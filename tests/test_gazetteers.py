"""Gazetteer file-format loaders (S6) + reference-scale dictionary soak.

The reference loads its public dictionaries from JSON string arrays
(NER.py:26-34) and jieba ``word [freq] [tag]`` user-dict text files
(NER.py:8-10, written by Convert_And_Extract.py:100-102). These tests pin
the loaders on those exact formats and soak the extraction kernels + the
full kg pipeline at the PUBLIC dictionary scale (7,507 surnames, 2,737
places) via synthetic entries drawn from the CJK Ext-A block — absent
from fixture text by construction, so results must be IDENTICAL to the
built-in defaults (kg CORRECTNESS rows unchanged)."""

import json

import pytest
from pyspark.sql import functions as F  # noqa: N812

from information_extraction_from_biographies_spark import fixtures as fx
from information_extraction_from_biographies_spark import gazetteers as gz
from information_extraction_from_biographies_spark.functions import extraction as ex
from information_extraction_from_biographies_spark.plans.pipeline import Pipeline


# --------------------------------------------------------------- loaders --
def test_surnames_from_json_reference_format(spark, tmp_path):
    """Two JSON array files union order-preservingly deduped, exactly the
    NER.py:26-30 shape (Hundred-Family-Surnames + Japanese-Surnames)."""
    p1, p2 = tmp_path / "a.json", tmp_path / "b.json"
    p1.write_text(json.dumps(["陳", "林", "歐陽"], ensure_ascii=False), encoding="utf-8")
    p2.write_text(json.dumps(["佐藤", "林", "鈴木"], ensure_ascii=False), encoding="utf-8")
    got = gz.surnames_from_json(spark, str(p1), str(p2))
    assert got == ("陳", "林", "歐陽", "佐藤", "鈴木")


def test_load_json_list_rejects_non_string_arrays(spark, tmp_path):
    p = tmp_path / "bad.json"
    p.write_text(json.dumps([1, 2, 3]), encoding="utf-8")
    with pytest.raises(ValueError, match="JSON array of strings"):
        gz.load_json_list(spark, str(p))


def test_user_dict_from_jieba_txt_formats(spark, tmp_path):
    """jieba load_userdict grammar: word alone, word+freq, word+tag,
    word+freq+tag; default keeps only nr-tagged entries (the reference's
    dicts are `name nr`, Convert_And_Extract.py:101)."""
    p = tmp_path / "dict.txt"
    p.write_text(
        "陳泗治 nr\n王大明 3 nr\n台北市 5 ns\n機器學習 10\n孤詞\n陳泗治 nr\n",
        encoding="utf-8",
    )
    assert gz.user_dict_from_jieba_txt(spark, str(p)) == ("陳泗治", "王大明")
    # tags=None keeps everything, file order, deduped
    assert gz.user_dict_from_jieba_txt(spark, str(p), tags=None) == (
        "陳泗治", "王大明", "台北市", "機器學習", "孤詞",
    )
    assert gz.user_dict_from_jieba_txt(spark, str(p), tags=("ns",)) == ("台北市",)


def test_lexicons_from_tools_layout(spark, tmp_path):
    """Directory laid out with the reference's ./Tools/ file names
    (NER.py:26-34) builds a working Lexicons."""
    d = tmp_path / "Tools"
    d.mkdir()
    files = {
        "Hundred-Family-Surnames.json": ["陳", "歐陽"],
        "Japanese-Surnames-in-zhTW.json": ["佐藤"],
        "Taiwanese-Place-Names.json": ["淡水", "台北"],
        "Mainland-Place-Names.json": ["北京"],
    }
    for name, data in files.items():
        (d / name).write_text(json.dumps(data, ensure_ascii=False), encoding="utf-8")
    lex = gz.lexicons_from_tools(spark, str(d))
    assert lex.surnames == frozenset({"陳", "歐陽", "佐藤"})
    assert lex.places == frozenset({"淡水", "台北", "北京"})
    assert ex.surname_of("歐陽修文", lex) == "歐陽"
    assert ex.surname_of("王大明", lex) is None  # not in this custom dict
    assert ex.extract_hometown("她是淡水人，", lex) == "淡水"


def test_custom_lexicon_changes_extraction():
    """A surname only in the custom lexicon is recalled by the N2 trigger
    rule with it and not with the defaults (the kernels really read the
    threaded lexicon, not module globals)."""
    # CJK Ext-A char — guaranteed absent from the default surname list
    s = "㑂"
    lex = gz.Lexicons.build(set(gz.SURNAMES) | {s}, gz.PLACE_NAMES)
    text = f"他與{s}大明同行。"
    assert f"{s}大明" in ex.rule_ner_names(text, lex)
    assert f"{s}大明" not in ex.rule_ner_names(text)
    names, _ = ex.extract_names_from_conv(text, None, lex=lex)
    assert f"{s}大明" in names


# ---------------------------------------------------- reference-scale soak --
def _ext_a_words(n: int, length: int, offset: int = 0) -> list[str]:
    """Deterministic synthetic CJK Ext-A words (U+3400..U+4DBF), disjoint
    from every fixture string and the built-in gazetteers; unique by
    first char (consecutive-run construction)."""
    base = 0x3400 + offset
    assert base + n + length - 1 <= 0x4DBF, "Ext-A block exhausted"
    return ["".join(chr(base + i + j) for j in range(length)) for i in range(n)]


def _public_scale_lexicons() -> gz.Lexicons:
    """Defaults padded with synthetic entries to the reference's public
    dictionary sizes: 7,507 surnames (507 Chinese + 7,000 Japanese,
    NER.py:26-30), 2,737 places (Biographee_Info.py:14)."""
    extra_s = 7507 - len(gz.SURNAMES)
    extra_p = 2737 - len(gz.PLACE_NAMES)
    surnames = set(gz.SURNAMES) | set(_ext_a_words(extra_s // 2, 1)) | set(
        _ext_a_words(extra_s - extra_s // 2, 2, offset=0x600)
    )
    places = set(gz.PLACE_NAMES) | set(_ext_a_words(extra_p, 3, offset=0xC00))
    return gz.Lexicons.build(surnames, places)


def test_public_scale_lexicons_sizes():
    lex = _public_scale_lexicons()
    assert len(lex.surnames) == 7507
    assert len(lex.places) == 2737
    # length-bucketed probe structures cover every length present
    assert {ln for ln, _ in lex.surname_sets} == {len(w) for w in lex.surnames}


def test_kernel_soak_at_public_dictionary_scale():
    """Kernels run with 7.5k-surname / 2.7k-place dictionaries and, since
    the padding is Ext-A-only, produce byte-identical output to the
    defaults on fixture conversations."""
    lex = _public_scale_lexicons()
    fixture = fx.make_fixture(n_convs=20, seed=11)
    bios = {t.conv_id: t.biographee for t in fixture.truths}
    texts = {
        conv_id: "\n\n".join(str(t) for t in grp.sort_values("turn_idx")["text"])
        for conv_id, grp in fixture.transcripts.groupby("conv_id")
    }
    assert texts, "fixture produced no conversations"
    for conv_id, text in texts.items():
        bio = bios.get(conv_id)
        assert ex.extract_names_from_conv(text, bio, lex=lex) == ex.extract_names_from_conv(
            text, bio
        )
        assert ex.extract_hometown(text, lex) == ex.extract_hometown(text)


def test_pipeline_parity_at_public_dictionary_scale(spark, tmp_path):
    """Full kg pipeline with public-scale lexicons threaded end-to-end:
    every output table row-identical to the default-lexicon run (kg
    CORRECTNESS rows unchanged under S6 dictionary loading)."""
    fixture = fx.make_fixture(n_convs=12, seed=19)
    sdf = fx.transcripts_sdf(spark, fixture)
    res_default = Pipeline(spark, str(tmp_path / "d"), snapshot_id="v1").run(sdf)
    res_scaled = Pipeline(
        spark, str(tmp_path / "s"), snapshot_id="v1", lexicons=_public_scale_lexicons()
    ).run(sdf)
    for t in ("people", "aliases", "triples", "entities", "edges", "timeline"):
        a = sorted(map(repr, res_default.tables[t].collect()))
        b = sorted(map(repr, res_scaled.tables[t].collect()))
        assert a == b, f"table {t} diverged under public-scale lexicons"


def test_all_triples_threads_lexicons_to_hometown(spark):
    """The operator-level composition path honors a custom place
    gazetteer: fused_scan_extract(..., lexicons=...) threads it to the N7
    hometown channel of the stage-2 triple table (a call site that falls
    back to DEFAULT_LEXICONS never extracts custom places)."""
    from information_extraction_from_biographies_spark.operators import scan, stage2

    place = "㐀㐁"  # CJK Ext-A — absent from the built-in place list
    assert place not in gz.DEFAULT_LEXICONS.places
    custom = gz.Lexicons.build(gz.SURNAMES, (place,))
    turns = spark.createDataFrame(
        [("c1", 0, f"陳一，{place}人，幼年習樂。", "陳一")],
        "conv_id string, turn_idx int, norm_text string, biographee string",
    )
    meta = spark.createDataFrame(
        [("c1", "陳一", None, None, [])],
        "conv_id string, biographee string, birth string, death string, "
        "authors array<string>",
    )
    aliases = spark.createDataFrame(
        [], "conv_id string, name string, alias_type string, alias string"
    )
    surfaces = spark.createDataFrame(
        [("陳一", "陳一", "name")], "surface string, person string, kind string"
    )
    index = scan.build_surface_index(surfaces)

    def all_triples(lexicons=None):
        fused = stage2.fused_scan_extract(turns, meta, index, lexicons=lexicons)
        return stage2.all_triples_fused(fused, aliases, meta)

    got = all_triples(lexicons=custom)
    born = [
        (r.subj, r.pred, r.obj) for r in got.filter("source = 'born-in'").collect()
    ]
    assert born == [("陳一", "born-in", place)]
    # defaults miss it — proves the parameter, not the text, did the work
    missed = all_triples()
    assert missed.filter("source = 'born-in'").count() == 0
