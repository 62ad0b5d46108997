"""J1 automaton distribution paths (broadcast rows vs registry parquet)
produce identical scan output, and the S7 debug sinks round-trip."""

from __future__ import annotations

from information_extraction_from_biographies_spark.operators import debug_sink, scan, stage2


def _surfaces_df(spark, n: int = 100_000):
    # synthetic 10^5-surface registry (the scale where the file path
    # matters), a handful of surfaces present in the probe text
    rows = [(f"person{i:06d}", f"person{i:06d}", "name") for i in range(n)]
    rows += [("甲山", "甲山", "name"), ("乙川", "乙川", "name")]
    return spark.createDataFrame(rows, "surface string, person string, kind string")


def _turns_df(spark):
    return spark.createDataFrame(
        [
            ("c1", 0, "甲山與乙川會面，甲山致詞。", None),
            ("c1", 1, "乙川回訪。", None),
            ("c2", 0, "person000007到場，person042000未到。", None),
        ],
        "conv_id string, turn_idx int, norm_text string, biographee string",
    )


def test_file_index_path_matches_broadcast_path(spark, tmp_path):
    surfaces = _surfaces_df(spark)
    turns = _turns_df(spark)

    bcast_handle = scan.build_surface_index(surfaces)
    file_handle = scan.build_surface_index(surfaces, via_file=str(tmp_path / "registry"))

    def rows_of(index):
        fused = stage2.fused_scan_extract(turns, None, index)
        return sorted(
            (r["conv_id"], r["kind"], r["pos"], r["person"], r["surface"])
            for r in stage2.mention_rows(fused).collect()
        )

    a = rows_of(bcast_handle)
    b = rows_of(file_handle)
    assert a == b
    assert len(a) > 0
    # driver-side accessors agree too (raw registry rows identical)
    assert sorted(file_handle.rows) == sorted(bcast_handle.rows)


def test_debug_sinks_write_and_read_back(spark, tmp_path):
    conv_names = spark.createDataFrame(
        [("c1", "甲山"), ("c1", "乙川")], "conv_id string, name string"
    )
    conv_aliases = spark.createDataFrame(
        [("c1", "甲山", "字", "子嶽")],
        "conv_id string, name string, alias_type string, alias string",
    )
    triples = spark.createDataFrame(
        [("c1", "甲山", "結識", "乙川")], "conv_id string, subj string, pred string, obj string"
    )
    cooc = spark.createDataFrame(
        [("c1", "甲山", "乙川", 3.456), ("c1", "甲山", "丙", 1.2)],
        "conv_id string, name1 string, name2 string, score double",
    )
    timeline = spark.createDataFrame(
        [("c1", 1921, "任職書局"), ("c1", 1919, "入學")],
        "conv_id string, year int, event string",
    )
    out = str(tmp_path / "dumps")
    written = debug_sink.write_debug_sinks(
        out,
        conv_names=conv_names,
        conv_aliases=conv_aliases,
        triples=triples,
        cooccurrence=cooc,
        timeline=timeline,
    )
    assert set(written) == {"ner_result", "relation", "cooccurrence", "timeline"}

    ner = "\n".join(
        r["value"] for r in spark.read.text(f"{out}/ner_result/conv_id=c1").collect()
    )
    assert "Names:" in ner and "甲山" in ner and "甲山 字 子嶽" in ner

    rel = "\n".join(r["value"] for r in spark.read.text(f"{out}/relation/conv_id=c1").collect())
    assert "甲山 結識 乙川" in rel

    co = [r["value"] for r in spark.read.text(f"{out}/cooccurrence/conv_id=c1").collect()]
    co = [line for line in co if line.strip()]
    assert co[0].startswith("甲山 3.46")  # descending score, rounded to 2

    tl = "\n".join(r["value"] for r in spark.read.text(f"{out}/timeline/conv_id=c1").collect())
    assert tl.index("1919 : 入學") < tl.index("1921 : 任職書局")


def test_timeline_table_concise_end_to_end(spark):
    """timeline_table(concise=True) through the grouped Spark pass:
    condensed where a dependency exists, raw-fallback otherwise."""
    from information_extraction_from_biographies_spark.operators.triples import timeline_table

    turns = spark.createDataFrame(
        [
            ("c1", 0, "民國40年（1951），與友人創立報社而聞名。"),
            ("c1", 1, "民國42年（1953），聲名遠播。"),
        ],
        "conv_id string, turn_idx int, norm_text string",
    )
    got = {(r["year"], r["event"]) for r in timeline_table(turns, concise=True).collect()}
    assert got == {(1951, "創立報社"), (1953, "聲名遠播")}
    full = {(r["year"], r["event"]) for r in timeline_table(turns).collect()}
    assert full == {(1951, "與友人創立報社而聞名"), (1953, "聲名遠播")}
