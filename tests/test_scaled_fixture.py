"""make_scaled_transcripts(career_reps>0): unique (conv_id, turn_idx)
keys, the kin turn last, and a pipeline run that recovers every golden
triple and nothing else."""

from pyspark.sql import functions as F  # noqa: N812

from information_extraction_from_biographies_spark import fixtures as fx
from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

N_CONVS, REPS = 4, 2


def test_career_reps_keys_unique_and_pipeline_exact(spark, tmp_path):
    tdf = fx.make_scaled_transcripts(spark, n_convs=N_CONVS, career_reps=REPS).persist()
    assert tdf.count() == N_CONVS * (4 + 2 * REPS)
    assert tdf.select("conv_id", "turn_idx").distinct().count() == tdf.count()
    # dense 0..n-1 numbering with the kin paragraph (娶…為妻) last
    last = tdf.groupBy("conv_id").agg(
        F.max("turn_idx").alias("m"), F.count("*").alias("n"),
        F.max_by("text", "turn_idx").alias("t"),
    ).collect()
    assert all(r.m == r.n - 1 and "為妻" in r.t for r in last)

    res = Pipeline(spark, str(tmp_path / "w"), snapshot_id="s").run(tdf)
    got = {(r.subj, r.pred, r.obj) for r in res.tables["triples"].collect()}
    # the F7 filter drops the self-loops a single-conversation fixture
    # wires (collaborator/teacher = the biographee itself)
    gold = {
        t
        for i in range(N_CONVS)
        for t in fx.golden_triples(fx.scaled_fixture(i))
        if t[0] != t[2]
    }
    tp = len(got & gold)
    assert tp / len(got) == 1.0 and tp / len(gold) == 1.0, (got - gold, gold - got)
    tdf.unpersist()
