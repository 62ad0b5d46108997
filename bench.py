"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``. The LAST stdout
line is the compact driver-parseable headline::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-trial detail (steal-discard logs, vs-prev ratios, incremental record)
is printed on a separate earlier line and written to
``BENCH/trials_latest.json`` — round 3 embedded it in the headline line,
which outgrew the driver's tail capture and left the round unrecorded
(BENCH_r03 parsed:null).

The flagship measurement is the full 4-stage checkpointed KG pipeline
(``Pipeline.run``, commit I/O included) over a scaled deterministic
transcript table (generated distributed via mapInPandas — the same
mechanism that generates 10^9 rows on a cluster); its throughput in
triples/sec is reported alongside the per-query walls.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _cpu_stat() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from /proc/stat — same probe as
    tools/bench_scaling.py (the harness whose policy the flagship adopts)."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = max(after[0] - before[0], 1)
    return round(100.0 * (after[1] - before[1]) / dt, 2)


def _spin_until(stop_t: float) -> None:
    # module-level so multiprocessing can pickle it under spawn/forkserver
    while time.monotonic() < stop_t:
        pass


def _busy_probe(cpus: int, probe_s: float = 1.5) -> float:
    """Steal measured UNDER LOAD. An idle /proc/stat window shows ~0%
    steal even while co-tenants saturate the physical cores, because
    steal only accrues when OUR vCPUs demand cycles and are denied
    (measured here: idle probes 0.0-0.7% immediately before trials that
    ran at 4-8%). Spin ``cpus`` busy workers for ``probe_s`` and read the
    steal that accrues — the direct answer to "can the hypervisor deliver
    my full width right now?"."""
    import multiprocessing as mp

    b = _cpu_stat()
    stop = time.monotonic() + probe_s
    procs = [mp.Process(target=_spin_until, args=(stop,), daemon=True) for _ in range(cpus)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return _steal_pct(b, _cpu_stat())


def _wait_for_quiet(
    max_steal: float, cpus: int, probe_s: float = 1.5, max_wait_s: float = 90.0
) -> dict:
    """Hold the next trial until a BUSY probe shows the host can deliver
    the trial's full width (co-tenant steal arrives in multi-second-to-
    minutes bursts; r4: all six flagship trials landed inside one
    sustained burst and were discarded — `steal_fallback: true`).
    Launching a 12 s trial into a window the probe can already see is
    contaminated wastes the whole trial. Give up after ``max_wait_s`` and
    launch anyway — the discard policy still adjudicates the trial."""
    waited = 0.0
    probes: list[float] = []
    while True:
        s = _busy_probe(cpus, probe_s)
        probes.append(s)
        waited += probe_s
        if s <= max_steal:
            return {"waited_s": round(waited, 1), "probes": probes, "quiet": True}
        if waited >= max_wait_s:
            return {"waited_s": round(waited, 1), "probes": probes, "quiet": False}
        time.sleep(4.0)
        waited += 4.0

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry

from information_extraction_from_biographies_spark import fixtures as fx
from information_extraction_from_biographies_spark.session import get_spark

# Relational / training-data headliners run from the driver contract at sf dir.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_nation_volume",
    "broadcast_brand_agg",
    "a2_depreciating_scores",
    "a3_pair_distances",
    "w1_running_position",
    "w5_topk_per_group",
    "cc_components",
    "graph_degree",
    "graph_khop",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_quality",
    "text_token_count",
    "text_langid",
    "text_fingerprint",
]


def materialize_transcripts(
    spark, n_convs: int, path: str | None = None, career_reps: int = 0
) -> str:
    """Write the deterministic scaled transcript table to parquet once
    (untimed input synthesis — the pipeline reads it back like any table)."""
    path = path or f"/tmp/kg_bench_transcripts_{n_convs}_r{career_reps}"
    if not os.path.isdir(path):
        fx.make_scaled_transcripts(
            spark, n_convs=n_convs, career_reps=career_reps
        ).write.mode("overwrite").parquet(path)
    return path


def kg_pipeline_run(
    spark, n_convs: int, transcripts_path: str | None = None, career_reps: int = 0
):
    """End-to-end KG extraction: one checkpointed ``Pipeline.run`` (stages
    0-4, every stage table committed) into a temp warehouse over the
    scaled transcript table — the run users launch. Returns (wall_s,
    n_triples, n_turns, n_cooc, n_entities); the counts are read back
    from the committed tables after the timer stops."""
    import shutil
    import tempfile

    from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

    tdf = spark.read.parquet(
        materialize_transcripts(spark, n_convs, transcripts_path, career_reps)
    )

    # Untimed warmup: spawn the python worker pool and touch the input
    # once. Analogous to excluding JVM startup — worker-pool spawn is a
    # per-session cost, not per-pipeline work (a long-lived cluster pays
    # it once); page-cache warmth equalizes the disk between trials.
    def _noop(batches):
        for b in batches:
            yield b.head(0)

    tdf.select("conv_id").mapInPandas(_noop, "conv_id string").count()

    wh = tempfile.mkdtemp(prefix="kg_bench_")
    try:
        t0 = time.monotonic()
        res = Pipeline(spark, wh, snapshot_id="bench").run(tdf)
        wall = time.monotonic() - t0
        n = {t: res.tables[t].count() for t in ("triples", "turns", "cooccurrence", "entities")}
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return wall, n["triples"], n["turns"], n["cooccurrence"], n["entities"]


def kg_incremental_run(spark, n_convs: int, delta_pct: float = 10.0, career_reps: int = 0):
    """Incremental-maintenance economics: bootstrap a checkpointed base
    snapshot over ~(100-delta_pct)% of the corpus, then apply the
    remaining conversations through ``IncrementalPipeline``
    (``rescan="none"`` — the streaming ingestion posture) and compare the
    delta wall against the base's full batch-with-checkpoint wall. The
    base wall stands in for "full recompute" (it underestimates it by the
    delta fraction, so the reported speedup is conservative).

    Returns {base_wall, delta_wall, rebuild_wall, speedup(s), delta_turns,
    delta_turns_per_sec, base_convs, delta_convs, policy_choice,
    policy_agrees_with_measured, maintain_wall} — the policy fields show
    what ``plans.incremental.maintain`` (rebuild_if_cheaper) would have
    picked at this cell and what that caller would have paid."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: N812

    from information_extraction_from_biographies_spark.plans.incremental import (
        IncrementalPipeline,
    )
    from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

    tdf = spark.read.parquet(
        materialize_transcripts(spark, n_convs, career_reps=career_reps)
    )
    is_delta = F.pmod(F.xxhash64("conv_id"), F.lit(1000)) < F.lit(int(delta_pct * 10))
    base_t = tdf.filter(~is_delta)
    delta_t = tdf.filter(is_delta)
    wh = tempfile.mkdtemp(prefix="kg_incr_")
    # decouple from the headline queries' session state before timing
    spark.catalog.clearCache()
    max_steal = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_STEAL", "1.0"))
    trials = int(os.environ.get("SPARK_GRAFT_KG_TRIALS", "2"))
    # gram_index=False throughout: this bench's posture is rescan="none"
    # (bounded-staleness ingestion — changed surfaces heal at compaction),
    # where the rescan posting index is never queried; a deployment on
    # that posture would not build it. The indexed-rescan economics are
    # recorded separately (tools/bench_rescan.py → BENCH/incremental.json
    # `rescan_index`).
    try:
        t0 = time.monotonic()
        Pipeline(spark, wh, snapshot_id="base", gram_index=False).run(base_t)
        base_wall = time.monotonic() - t0
        # delta trials share the bootstrap: each applies the same delta to
        # the same base under a fresh snapshot id; best steal-clean wall
        # wins (same policy as the flagship — an isolated rerun measured
        # 2.6x below a dirty-session first attempt)
        trial_log = []
        for t in range(max(trials, 1) + 1):
            if trial_log and trial_log[-1]["discarded"]:
                _wait_for_quiet(
                    max_steal, int(os.environ.get("SPARK_GRAFT_CPUS", "32")), max_wait_s=30.0
                )
            before = _cpu_stat()
            t0 = time.monotonic()
            # run() is eager — every delta stage table is committed to
            # parquet before it returns: the full maintenance cost
            IncrementalPipeline(spark, wh, "base", f"delta{t}").run(
                delta_t, rescan="none"
            )
            w = time.monotonic() - t0
            steal = _steal_pct(before, _cpu_stat())
            trial_log.append(
                {"wall": round(w, 3), "steal_pct": steal, "discarded": steal > max_steal}
            )
            clean = [tr for tr in trial_log if not tr["discarded"]]
            if len(trial_log) >= max(trials, 1) and clean:
                break
        clean = [tr for tr in trial_log if not tr["discarded"]]
        delta_wall = min(tr["wall"] for tr in (clean or trial_log))
        # The honest comparator for "maintenance pays off" is a FULL
        # checkpointed rebuild over base ∪ delta — what a deployment
        # without the incremental path would run. base_wall (the ~90%
        # bootstrap) underestimates it, and engine changes that speed the
        # batch path more than the delta path made base/delta drift below
        # 1.0 even as both improved. Same steal-discard policy as the
        # delta trials: an unguarded single rebuild reading would make
        # speedup_vs_rebuild / measured_cheaper hostage to one co-tenant
        # burst on only one side of the comparison.
        rebuild_log: list[dict] = []
        for t in range(max(trials, 1) + 1):
            if rebuild_log and rebuild_log[-1]["discarded"]:
                _wait_for_quiet(
                    max_steal, int(os.environ.get("SPARK_GRAFT_CPUS", "32")), max_wait_s=30.0
                )
            before = _cpu_stat()
            t0 = time.monotonic()
            Pipeline(spark, wh, snapshot_id=f"rebuild{t}", gram_index=False).run(tdf)
            w = time.monotonic() - t0
            steal = _steal_pct(before, _cpu_stat())
            rebuild_log.append(
                {"wall": round(w, 3), "steal_pct": steal, "discarded": steal > max_steal}
            )
            if not rebuild_log[-1]["discarded"]:
                break
        rebuild_clean = [tr for tr in rebuild_log if not tr["discarded"]]
        rebuild_wall = min(tr["wall"] for tr in (rebuild_clean or rebuild_log))
        delta_turns = delta_t.count()
        base_convs = base_t.select("conv_id").distinct().count()
        delta_convs = delta_t.select("conv_id").distinct().count()
        # What the rebuild_if_cheaper policy (plans.incremental.maintain)
        # would have chosen at this cell, and whether the measured walls
        # agree — evidences the escape live at the driver-bench scale
        # (below the ~10k-conv knee the policy must pick rebuild).
        from information_extraction_from_biographies_spark.plans.incremental import (
            MaintenanceCostModel,
        )

        inc_pred, reb_pred = MaintenanceCostModel().predict(base_convs, delta_convs)
        policy_choice = "rebuild" if reb_pred <= inc_pred else "incremental"
        measured_cheaper = "rebuild" if rebuild_wall <= delta_wall else "incremental"
        return {
            "base_wall": round(base_wall, 3),
            "delta_wall": round(delta_wall, 3),
            "rebuild_wall": round(rebuild_wall, 3),
            "speedup_vs_rebuild": round(rebuild_wall / delta_wall, 2)
            if delta_wall > 0
            else None,
            "speedup": round(base_wall / delta_wall, 2) if delta_wall > 0 else None,
            "delta_turns": delta_turns,
            "delta_turns_per_sec": round(delta_turns / delta_wall, 1)
            if delta_wall > 0
            else None,
            "base_convs": base_convs,
            "delta_convs": delta_convs,
            "policy_choice": policy_choice,
            "policy_agrees_with_measured": policy_choice == measured_cheaper,
            # the wall a maintain() caller would actually have paid: the
            # PREDICTED-cheaper path's measured wall (not min of both —
            # when the model disagrees with the measurement, the policy
            # could not have delivered the min)
            "maintain_wall": round(
                rebuild_wall if policy_choice == "rebuild" else delta_wall, 3
            ),
            "rebuild_trials": rebuild_log,
            "trials": trial_log,
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def _vs_prev(queries: dict[str, float], sf: float, threshold: float = 1.3) -> dict:
    """Regression diff against the newest BENCH_r{N}.json in the repo
    root: per-query ratio (this/prev) for shared queries, flagging
    anything over ``threshold`` — the previous round's numbers are the
    regression baseline. Skipped when the scale factors differ."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    if not rounds:
        return {"baseline": None}
    n, path = max(rounds)
    try:
        with open(path) as f:
            prev_doc = json.load(f)
        # the driver wraps bench output: {"sf", "parsed": {<bench json>}, ...}
        if "parsed" in prev_doc and isinstance(prev_doc["parsed"], dict):
            prev_doc = {**prev_doc["parsed"], "sf": prev_doc.get("sf", prev_doc["parsed"].get("sf"))}
        prev = prev_doc.get("queries", {})
    except (OSError, json.JSONDecodeError):
        return {"baseline": None}
    if prev_doc.get("sf") != sf:
        return {"baseline": f"r{n:02d}", "skipped": f"sf mismatch ({prev_doc.get('sf')} vs {sf})"}
    ratios = {
        name: round(queries[name] / prev[name], 2)
        for name in queries
        if name in prev and prev[name] > 0
    }
    return {
        "baseline": f"r{n:02d}",
        "ratios": ratios,
        "regressions": sorted(q for q, r in ratios.items() if r > threshold),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("SPARK_GRAFT_KG_CONVS", "12000"))
    career_reps = int(os.environ.get("SPARK_GRAFT_KG_REPS", "4"))
    # Shuffle parallelism = core count: the flagship's cost is two
    # conv-grouped Python passes whose per-task Arrow/worker overhead
    # dominates at over-decomposed widths — measured at 12k convs /
    # local[32]: 64 partitions 19.3-22.8 s, 48 -> 15.3-15.5 s, 32 ->
    # 13.3-14.8 s (steal-annotated A/B, /tmp log reproduced by rerunning
    # kg_pipeline_run under each width). Relational shuffles stay right-
    # sized via AQE coalescing. Override with SPARK_GRAFT_SHUFFLE.
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(cpus, 16))))
    spark = get_spark(
        app_name="kg-bench", master=f"local[{cpus}]", shuffle_partitions=shuffle
    )

    queries: dict[str, float] = {}

    # Steal-discard trial policy (the scaling harness's policy, adopted
    # for the flagship and every per-query wall per the round-2 verdict):
    # the sandbox host is shared and bursty (back-to-back identical
    # flagship runs measured 3x apart), so each trial records /proc/stat
    # steal; trials whose steal exceeds SPARK_GRAFT_BENCH_MAX_STEAL
    # (default 1%) are DISCARDED and the best remaining wall is kept. If
    # every trial is contaminated, up to SPARK_GRAFT_KG_MAX_TRIALS extra
    # trials run; if still contaminated, the best contaminated wall is
    # used and flagged `steal_fallback`. All trials (wall + steal) are
    # reported for adjudication.
    max_steal = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_STEAL", "1.0"))
    kg_trials = int(os.environ.get("SPARK_GRAFT_KG_TRIALS", "2"))
    kg_max_trials = int(os.environ.get("SPARK_GRAFT_KG_MAX_TRIALS", "8"))
    # total extra wall the flagship may spend hunting a clean trial
    # (quiet-window waits + retries); bounds the adaptive loop below
    kg_budget_s = float(os.environ.get("SPARK_GRAFT_KG_BUDGET_S", "420"))
    # Untimed PIPELINE warmup at ~5% scale: the first same-session run
    # pays JVM JIT/codegen warm-up on every stage (measured 18.7-21.9 s
    # cold vs 13.0-14.5 s warm at 12k convs) — a per-session cost like
    # JVM startup, excluded the same way. The per-trial noop warmup in
    # kg_pipeline_run only covers worker spawn + page cache.
    kg_pipeline_run(spark, max(600, n_convs // 20), career_reps=career_reps)
    kg_trial_log: list[dict] = []
    results: dict[float, tuple] = {}
    # The hunt budget bounds the EXTRA wall spent chasing a clean trial
    # (waits + retries beyond the mandatory K) — so the clock starts only
    # once the mandatory trials have run. Starting it earlier would let
    # two long contaminated mandatory trials exhaust the budget and break
    # with zero retries, defeating the hunt entirely.
    budget_t0: float | None = None
    while len(kg_trial_log) < max(kg_trials, 1) + kg_max_trials:
        clean = [tr for tr in kg_trial_log if not tr["discarded"]]
        if len(kg_trial_log) >= max(kg_trials, 1) and budget_t0 is None:
            budget_t0 = time.monotonic()
        hunt_left = (
            kg_budget_s
            if budget_t0 is None
            else kg_budget_s - (time.monotonic() - budget_t0)
        )
        # once the mandatory K trials ran, extra trials are only for
        # hunting a clean one — and only while the budget lasts
        if len(kg_trial_log) >= max(kg_trials, 1) and (clean or hunt_left <= 0):
            break
        # don't launch a 12 s trial into a steal burst the probe can
        # already see (r4: six-for-six contaminated); wait briefly for a
        # quiet window, budget-bounded
        quiet = _wait_for_quiet(
            max_steal,
            cpus,
            max_wait_s=min(90.0, max(hunt_left, 0.0)),
        )
        before = _cpu_stat()
        w, t, u, c, e = kg_pipeline_run(spark, n_convs, career_reps=career_reps)
        steal = _steal_pct(before, _cpu_stat())
        kg_trial_log.append(
            {
                "wall": round(w, 3),
                "steal_pct": steal,
                "discarded": steal > max_steal,
                "quiet_wait": quiet,
            }
        )
        results[round(w, 3)] = (t, u, c, e)
    clean = [tr for tr in kg_trial_log if not tr["discarded"]]
    kg_steal_fallback = not clean
    wall = min((tr["wall"] for tr in (clean or kg_trial_log)))
    n_triples, n_turns, n_cooc, n_entities = results[wall]
    queries["kg_pipeline"] = wall
    triples_per_sec = n_triples / wall if wall > 0 else 0.0

    # Per-query walls: same best-of-clean policy (a co-tenant burst can
    # inflate a 0.5s query 10-30x mid-run). One retry beyond the default
    # K when every trial of a query was steal-contaminated.
    qdict = entry.queries()
    # Untimed page-cache warmup of the sf tables: the first query after a
    # cache-evicting phase (the flagship, a noisy co-tenant) otherwise
    # pays cold parquet reads — measured q1 at 6.2 s cold vs 0.7 s warm.
    # One count per table touches every row group; same rationale as the
    # flagship's untimed worker-pool warmup.
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception:  # noqa: BLE001 — missing optional table
            pass
    query_steal: dict[str, list[dict]] = {}
    for name in HEADLINE:
        trials: list[dict] = []
        while len(trials) < max(kg_trials, 1) + 1:
            if trials and trials[-1]["discarded"]:
                # previous trial burned in a burst — pause for calm before
                # the retry (short probe: these queries cost ~0.2-3 s)
                _wait_for_quiet(max_steal, cpus, probe_s=1.0, max_wait_s=20.0)
            before = _cpu_stat()
            t0 = time.monotonic()
            df = qdict[name](spark, sf_dir)
            # noop sink, not count(): count() lets Catalyst prune the
            # projected columns of scan+project queries (text_quality etc.
            # would time an empty aggregate, not their compute) — round-3
            # verdict item #4; the noop sink materializes every column.
            df.write.format("noop").mode("overwrite").save()
            w = time.monotonic() - t0
            steal = _steal_pct(before, _cpu_stat())
            trials.append(
                {"wall": round(w, 3), "steal_pct": steal, "discarded": steal > max_steal}
            )
            clean_t = [tr for tr in trials if not tr["discarded"]]
            if len(trials) >= max(kg_trials, 1) and clean_t:
                # short queries are the most noise-sensitive (a co-tenant
                # IO burst the steal probe can't see inflates them 2-6x —
                # an isolated A/B measured dedup_minhash_lsh at 4.4s in a
                # bench loop vs 1.85s quiet, both trials "steal-clean");
                # buy everything under 5s one extra trial — a few s each
                if min(tr["wall"] for tr in clean_t) < 5.0 and len(trials) < max(
                    kg_trials, 1
                ) + 1:
                    continue
                break
        clean_t = [tr for tr in trials if not tr["discarded"]]
        queries[name] = min(tr["wall"] for tr in (clean_t or trials))
        query_steal[name] = trials

    # Incremental-maintenance economics (single trial, steal recorded —
    # the ratio base/delta is what matters, and both halves run
    # back-to-back under the same host conditions). Disable with
    # SPARK_GRAFT_BENCH_INCR=0; sized at half the flagship corpus to
    # bound the checkpointed base run's cost.
    incr = None
    if os.environ.get("SPARK_GRAFT_BENCH_INCR", "1") == "1":
        before = _cpu_stat()
        incr = kg_incremental_run(
            spark, max(n_convs // 2, 1000), career_reps=career_reps
        )
        incr["steal_pct"] = _steal_pct(before, _cpu_stat())

    total = round(sum(queries.values()), 3)
    # Trial-level detail (per-trial walls + steal, vs_prev ratios, full
    # incremental record) goes to a SEPARATE earlier stdout line and a file
    # under BENCH/ — round 3's headline line embedded it all and outgrew
    # the driver's tail capture (BENCH_r03 parsed:null). The LAST stdout
    # line is the compact driver-parseable headline and nothing else.
    detail = {
        "detail": "bench_trials",
        "vs_prev": _vs_prev(queries, sf),
        "steal_policy": {
            "max_steal_pct": max_steal,
            "kg_steal_fallback": kg_steal_fallback,
            "query_trials": query_steal,
        },
        "kg_trials": kg_trial_log,
        "kg_incremental": incr,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        os.makedirs(os.path.join(here, "BENCH"), exist_ok=True)
        with open(os.path.join(here, "BENCH", "trials_latest.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # read-only checkout: the stdout detail line still carries it
    print(json.dumps(detail))
    incr_compact = (
        {
            k: incr[k]
            for k in (
                "base_wall",
                "delta_wall",
                "rebuild_wall",
                "speedup_vs_rebuild",
                "speedup",
                "delta_turns_per_sec",
                "policy_choice",
                "maintain_wall",
            )
        }
        if incr
        else None
    )
    print(
        json.dumps(
            {
                "metric": "total_headline_seconds",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "kg": {
                    "n_convs": n_convs,
                    "n_turns": n_turns,
                    "n_triples": n_triples,
                    "n_cooccurrence": n_cooc,
                    "n_entities": n_entities,
                    "triples_per_sec": round(triples_per_sec, 2),
                    "turns_per_sec": round(n_turns / wall, 2) if wall > 0 else 0.0,
                    "cores": cpus,
                    "steal_fallback": kg_steal_fallback,
                },
                "kg_incremental": incr_compact,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
