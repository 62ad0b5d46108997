"""The end-to-end KG-construction pipeline (SURVEY §7 stage architecture).

    transcripts ─ stage0 normalize ──► stage0_turns, stage0_meta
                ─ stage1 mentions ───► stage1_names, stage1_aliases,
                                       people, aliases (global registry)
                ─ stage2 triples ────► stage2_triples, stage2_timeline,
                                       stage2_mentions (positioned occurrences)
                ─ stage3 canonicalize► stage3_entities
                ─ stage4 materialize ► nodes, edges, cooccurrence, timeline

Every stage commits a snapshot with per-partition lineage (CheckpointStore);
``run(resume=True)`` skips stages whose lineage reconciles — the reference's
implicit "re-run the stage script against current DB state" (§3.3) made
explicit and verifiable.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..operators import (
    canonicalize,
    graph,
    mentions,
    normalize,
    postings,
    scan,
    stage2,
)
from ..sources.checkpoint import CheckpointStore

STAGES = [
    "stage0_turns",
    "stage0_meta",
    "gram_stops",
    "turn_grams",
    "stage1_names",
    "stage1_aliases",
    "registry_bits",
    "stage1_people",
    "stage1_alias_registry",
    "stage2_mentions",
    "stage2_triples",
    "stage2_timeline",
    "cc_labels",
    "cc_members",
    "stage3_entities",
    "nodes",
    "edges",
    "cooccurrence",
    "timeline",
]

# Stage snapshots committed BUCKETED on the key their downstream consumers
# join/group on (sources/bucketed.py): the read-back scan then satisfies
# the planner's required distribution and the Exchange disappears —
# stage0_turns feeds both conv-grouped Python passes shuffle-free
# (grouped_map pre_partitioned), and the stage-3/4 vocabulary-scale joins
# (people ⋈ labels on name==vertex, nodes' alias-attr aggregate, the
# incremental path's per-delta rejoins) are co-located. Tables NOT listed
# are never re-joined on a stable key (their bucketing would be a pure
# extra write shuffle). Exception to that criterion: ``nodes`` is never
# re-joined downstream — it is listed so the copy-on-write vocabulary
# commit can engage on it (VOCAB_BUCKET_KEYS below requires all six
# tables at one shared layout); removing it here silently disables CoW
# for every table.
BUCKET_KEYS = {
    "stage0_turns": "conv_id",
    # gram posting index (operators/postings.py): bucketed on gram so a
    # changed-surface rescan reads only the queried grams' buckets
    "turn_grams": "gram",
    "registry_bits": "person",
    "stage1_people": "name",
    "stage1_alias_registry": "name",
    "cc_labels": "vertex",
    # the component-keyed mirror of cc_labels: the inverted index that
    # lets the CoW label commit find "all members of a merged component"
    # with a file-pruned read instead of a vocabulary scan
    "cc_members": "component",
    "stage3_entities": "name",
    "nodes": "name",
}

# The vocabulary-scale tables (one row per distinct person/surface, not per
# corpus row) and their bucket keys — when a base snapshot carries all of
# them bucketed at one shared count, IncrementalPipeline commits them
# copy-on-write: only the buckets whose keys the delta touched are
# rewritten, untouched bucket files are hardlinked from the parent
# (CheckpointStore.commit_partial). Every builder below is per-key-local
# (bit_or per person, filter per person, union-distinct per name, label
# per vertex, member list per component, equi-join/aggregate on the
# bucket key), which is exactly the property that makes bucket-granularity
# CoW compose.
VOCAB_BUCKET_KEYS = {
    t: k
    for t, k in BUCKET_KEYS.items()
    # stage0_turns and turn_grams are CORPUS-scale (rows grow with turns,
    # not distinct persons) — they are delta-committed on the snapshot
    # chain, never CoW-merged
    if t not in ("stage0_turns", "turn_grams")
}


def materialize_group(materialize, specs, serial: bool = False) -> dict:
    """Commit INDEPENDENT stages concurrently: each thread only submits
    Spark jobs (SparkSession is thread-safe; the scheduler interleaves
    them across the same executor cores), so the per-commit latency floor
    — job scheduling round-trips, output commit protocol, lineage write,
    read-back count — is paid once per GROUP instead of once per table.
    Work is not duplicated: concurrent first-actions over a shared
    .persist() upstream dedup through the BlockManager's per-block lock.
    ``specs``: [(name, build, inputs)] with no dependencies between
    entries (callers group by the stage DAG). Returns {name: DataFrame};
    raises the first failure after all threads settle."""
    if serial or len(specs) == 1:
        return {n: materialize(n, b, i) for n, b, i in specs}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(specs)) as ex:
        futs = [(n, ex.submit(materialize, n, b, i)) for n, b, i in specs]
        return {n: f.result() for n, f in futs}


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    executed_stages: list[str]
    skipped_stages: list[str]


# auto-bucketing thresholds: below MIN_BYTES the layout is pure overhead
# (bucketing a table smaller than one shuffle partition trades nothing
# for extra files + a write repartition — measured ~+10% on a 600-conv
# delta); above it, one bucket per ~128 MB, the parquet split size, so a
# bucket file is one task either way.
AUTO_BUCKET_MIN_BYTES = 1 << 30
AUTO_BUCKET_TARGET_BYTES = 128 << 20
AUTO_BUCKET_MAX = 4096

# stage-2 probe-dictionary distribution: at or above this many committed
# registry rows (stage1_people + stage1_alias_registry, read from lineage —
# no extra job) the registry stays on parquet and each worker builds its
# automaton from the file, instead of a driver collect + broadcast. 10^7
# surfaces is the scale where the collect (~100 B/surface → ~1 GB of
# driver heap) and the broadcast re-ship become the bottleneck
# (operators/scan.py); below it the collect path is cheaper.
REGISTRY_VIA_FILE_ROWS = 10**7


def auto_bucket_count(df: DataFrame) -> int:
    """Size BUCKET_KEYS commits from the INPUT's on-disk bytes — the
    deployment rule from the constructor docstring (table_size/128 MB)
    made automatic. Returns 0 (plain parquet) for inputs under 1 GiB:
    at that size every stage table fits a handful of shuffle partitions
    and the bucketed layout cannot win back its write repartition.
    Inputs whose size is unknowable (in-memory test frames) also get 0 —
    explicit ``buckets=`` overrides for those."""
    spark = df.sparkSession
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in df.inputFiles():
            path = jvm.org.apache.hadoop.fs.Path(f)
            total += path.getFileSystem(hconf).getFileStatus(path).getLen()
    except Exception:
        # unknowable size (in-memory frames, exotic sources): stay plain
        return 0
    if total < AUTO_BUCKET_MIN_BYTES:
        return 0
    return min(AUTO_BUCKET_MAX, -(-total // AUTO_BUCKET_TARGET_BYTES))


def pin_bucketed_scan_conf(spark: SparkSession) -> None:
    """The Python passes consume the bucketed turns scan through
    mapInPandas, which declares NO required distribution — so the
    DisableUnnecessaryBucketedScan rule would silently revert the
    scan to regular splittable file reads ("Bucketed: false
    (disabled by query planner)"), and at scale a >128 MB bucket
    file then splits at row-group boundaries, fragmenting a
    conversation across partitions (iter_key_groups' contiguity
    guard is per-partition and cannot see that). Pinning the conf
    keeps every bucketed scan bucketed: one partition per bucket,
    groups whole. Correctness-bearing, not a tuning knob — which is
    why it must fire on EVERY path that takes the pre-partitioned
    Exchange-free plan: both when THIS run commits bucketed
    (resolve_buckets) and when a resume finds bucketing in the
    COMMITTED lineage while this run's knob is 0/None (the knob and
    the layout the snapshot actually has are independent)."""
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )


def resolve_buckets(spark: SparkSession, buckets: int | None, df: DataFrame) -> int:
    """Resolve the bucket-count knob (None → auto-size from input bytes)
    and pin the planner conf when bucketing engages. Shared by Pipeline
    and IncrementalPipeline so the correctness-bearing pin has exactly
    one implementation."""
    if buckets is None:
        buckets = auto_bucket_count(df)
    if buckets > 0:
        pin_bucketed_scan_conf(spark)
    return buckets


def bucket_args(name: str, buckets: int | None) -> dict:
    key = BUCKET_KEYS.get(name)
    if key is None or not buckets:
        return {}
    return {"bucket_keys": key, "buckets": buckets}


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        snapshot_id: str = "v1",
        cc_salt: int = 0,
        user_dict=None,
        lexicons=None,
        buckets: int | None = None,
        gram_index: bool = True,
        gram_max_df: int | None = None,
        max_conv_turns: int | None = None,
        group_partitioner: str = "hash",
    ) -> None:
        """``user_dict``: iterable of known person names for the N1
        dictionary-segmentation channel (the jieba user dicts of
        NER.py:8-10); None disables the channel. Load the reference's
        `word nr` dict files with ``gazetteers.user_dict_from_jieba_txt``.

        ``lexicons``: a ``gazetteers.Lexicons`` (surname + place
        gazetteers) for the N2/N3/N7 kernels and the F3-F5 filters;
        None → the built-in representative defaults. Load the
        reference's public JSON gazetteers with
        ``gazetteers.lexicons_from_tools(spark, tools_dir)``.

        ``buckets``: bucket count for the BUCKET_KEYS stage commits
        (0 disables bucketing and commits plain parquet; None → sized
        automatically from the input's on-disk bytes at run() —
        ``auto_bucket_count``: plain under 1 GiB, one bucket per ~128 MB
        above, same count on every co-joined table).

        ``gram_index``: commit the ``turn_grams`` posting index (+ its
        ``gram_stops`` stoplist) that makes IncrementalPipeline's
        ``rescan="indexed"`` detection O(postings) instead of O(history).
        Costs one extra O(corpus chars) pass + commit; False skips it
        (batch-only workloads) — indexed rescans over such a base degrade
        to the exact full scan, or backfill later with
        ``plans.incremental.ensure_gram_index``.

        ``gram_max_df``: stop-gram document-frequency cap (operators/
        postings.hot_grams). None → auto: max(200, 5% of conversations).

        ``max_conv_turns``: hard bound on executor memory per conversation
        group. The per-conv kernels operate on the JOINED conversation
        text (the reference's whole-document semantics), so one group's
        memory is O(largest conversation); an adversarially long transcript
        (agent loop stuck for 10^9 turns) would OOM the executor holding
        it. When set, stage 0 keeps only ``turn_idx < max_conv_turns`` —
        a pure scan predicate (pushed to parquet row-group stats, zero
        shuffle) that caps every group at the first N turns — and the
        stage0_turns commit metrics record ``capped_convs`` (count of
        conversations that lost turns) so the truncation is audited, never
        silent. None (default) disables the cap.

        ``group_partitioner``: "hash" (default) or "range" — how the two
        per-conversation Python passes spread conversations across
        partitions when the turns snapshot is not already co-located.
        "range" uses repartitionByRange: partitions get ~equal ROW counts
        rather than ~equal KEY counts, so heavily skewed conversation
        lengths stop serializing behind the partition that drew a giant
        conversation plus its full hash share of small ones (see
        functions/grouped.py). Ignored on resumed bucketed snapshots
        (their layout is already fixed by the commit)."""
        self.spark = spark
        self.store = CheckpointStore(spark, warehouse)
        self.warehouse = warehouse
        self.snapshot_id = snapshot_id
        self.cc_salt = cc_salt
        self.user_dict = user_dict
        self.lexicons = lexicons
        self.buckets = buckets
        self.gram_index = gram_index
        self.gram_max_df = gram_max_df
        self.max_conv_turns = max_conv_turns
        if group_partitioner not in ("hash", "range"):
            raise ValueError(
                f"group_partitioner must be 'hash' or 'range', got {group_partitioner!r}"
            )
        self.group_partitioner = group_partitioner
        if buckets is not None and buckets > 0:
            pin_bucketed_scan_conf(self.spark)

    def _resolve_buckets(self, transcripts: DataFrame) -> int:
        self.buckets = resolve_buckets(self.spark, self.buckets, transcripts)
        return self.buckets

    def _bucket_args(self, name: str) -> dict:
        return bucket_args(name, self.buckets)

    def run(self, transcripts: DataFrame, resume: bool = True, fail_after: str | None = None) -> PipelineResult:
        """Run all stages; with resume=True, committed stages are read back
        instead of recomputed. ``fail_after`` aborts after committing the
        named table (kill-resume tests)."""
        sid = self.snapshot_id
        self._resolve_buckets(transcripts)
        executed: list[str] = []
        skipped: list[str] = []
        stage_metrics: dict[str, dict] = {}

        if self.max_conv_turns is not None:
            # bounded per-group memory: keep each conversation's first N
            # turns — a pure scan predicate, no shuffle — and AUDIT the
            # truncation in the stage0_turns lineage metrics
            cut = F.col("turn_idx") >= F.lit(self.max_conv_turns)
            stage_metrics["stage0_turns"] = {
                "max_conv_turns": self.max_conv_turns,
                "capped_convs": transcripts.filter(cut)
                .select("conv_id")
                .distinct()
                .count(),
            }
            transcripts = transcripts.filter(~cut)

        def _materialize(name: str, build, inputs: dict[str, str]) -> DataFrame:
            if resume and self.store.is_committed(name, sid):
                skipped.append(name)
                return self.store.read(name, sid)
            df = build()
            self.store.commit(
                df,
                name,
                sid,
                input_snapshots=inputs,
                metrics=stage_metrics.get(name),
                **self._bucket_args(name),
            )
            executed.append(name)
            if fail_after == name:
                raise RuntimeError(f"injected failure after committing {name}")
            return self.store.read(name, sid)

        # fail_after is a kill-resume test knob: its contract is "nothing
        # AFTER the named commit happened", which concurrent group-mates
        # would violate — so the injection forces serial commits.
        serial = fail_after is not None

        def _group(*specs) -> dict:
            return materialize_group(_materialize, list(specs), serial=serial)

        # stage 0 — ONE enrichment pass feeds both commits (the persisted
        # turn-0 frame is shared; previously each table re-ran the pass)
        norm_turns, norm_meta, enriched0 = normalize.normalize_shared(
            transcripts, persist_enriched=True
        )
        g0 = _group(
            ("stage0_turns", lambda: norm_turns, {"transcripts": "input"}),
            ("stage0_meta", lambda: norm_meta, {"transcripts": "input"}),
        )
        turns, meta = g0["stage0_turns"], g0["stage0_meta"]
        enriched0.unpersist()

        # stage 1 — one extraction pass, persisted across the two table
        # writes. The turns snapshot is committed bucketed on conv_id, so
        # the read-back is already hash-partitioned: the pass skips its
        # repartition Exchange (grouped_map pre_partitioned) and pays only
        # the partition-local sort. Decided from the COMMITTED lineage, not
        # this run's knob — a resume over a snapshot written unbucketed by
        # an earlier run must not assume co-location it doesn't have.
        turns_bucketed = (
            self.store.lineage("stage0_turns", sid).get("bucketing", {}) or {}
        ).get("keys") == ["conv_id"]
        if turns_bucketed:
            # the committed layout, not this run's knob, is what the
            # Exchange-free path reads — a resume with buckets=0 over a
            # snapshot committed bucketed still needs the planner pin or
            # DisableUnnecessaryBucketedScan reverts the scan and a big
            # bucket file fragments a conversation across partitions
            pin_bucketed_scan_conf(self.spark)
        extracted = mentions.extract_people_combined(
            turns,
            meta,
            user_dict=self.user_dict,
            pre_partitioned=turns_bucketed,
            partitioner=self.group_partitioner,
            lexicons=self.lexicons,
        ).persist()
        ext_names, ext_aliases = mentions.split_extracted(extracted)

        g1_specs = [
            ("stage1_names", lambda: ext_names, {"stage0_turns": sid}),
            ("stage1_aliases", lambda: ext_aliases, {"stage0_turns": sid}),
        ]
        raw_grams = None
        if self.gram_index:
            # gram posting index for the incremental changed-surface
            # rescan (operators/postings.py). The stoplist commit comes
            # FIRST (resume over a turn_grams-without-stops snapshot
            # would read stopped grams as absent → false negatives);
            # the max-df cap auto-sizes from the committed conv count.
            raw_grams = postings.conv_grams(turns).persist()
            max_df = self.gram_max_df
            if max_df is None:
                n_convs = self.store.lineage("stage0_meta", sid)["total_rows"]
                max_df = max(200, int(0.05 * n_convs))
            stops = _materialize(
                "gram_stops",
                lambda: postings.hot_grams(raw_grams, max_df),
                {"stage0_turns": sid},
            )
            g1_specs.append(
                (
                    "turn_grams",
                    lambda: postings.apply_stops(raw_grams, stops),
                    {"stage0_turns": sid, "gram_stops": sid},
                )
            )
        g1 = _group(*g1_specs)
        conv_names, conv_aliases = g1["stage1_names"], g1["stage1_aliases"]
        extracted.unpersist()
        if raw_grams is not None:
            raw_grams.unpersist()

        # the (person, bits) flag table is committed as its own stage: it is
        # the vocabulary-scale state that lets IncrementalPipeline merge the
        # U4 registry without rescanning history (bit_or is associative)
        gr = _group(
            (
                "registry_bits",
                lambda: mentions.registry_bits(conv_names, conv_aliases),
                {"stage1_names": sid, "stage1_aliases": sid},
            ),
            (
                "stage1_alias_registry",
                lambda: conv_aliases.select("name", "alias_type", "alias").distinct(),
                {"stage1_aliases": sid},
            ),
        )
        bits, alias_reg = gr["registry_bits"], gr["stage1_alias_registry"]
        people = _materialize(
            "stage1_people",
            lambda: mentions.people_from_bits(bits),
            {"registry_bits": sid},
        )

        # stage 2 — ONE fused pass over the text computes mention scan,
        # verb cascade, hometown, and timeline together (operators/stage2);
        # the three stage tables are filters over the persisted union.
        surfaces_df = mentions.registry_surfaces(people, alias_reg)
        registry_rows = sum(
            self.store.lineage(t, sid)["total_rows"]
            for t in ("stage1_people", "stage1_alias_registry")
        )
        via_file = (
            f"{self.warehouse}/_registry/surfaces-{sid}"
            if registry_rows >= REGISTRY_VIA_FILE_ROWS
            else None
        )
        index = scan.build_surface_index(surfaces_df, via_file=via_file)
        fused = stage2.fused_scan_extract(
            turns,
            meta,
            index,
            pre_partitioned=turns_bucketed,
            partitioner=self.group_partitioner,
            lexicons=self.lexicons,
        ).persist()

        # the five independent consumers of the persisted fused pass (plus
        # cc_labels, which needs only the alias registry) commit as ONE
        # group — the fused blocks compute once under the BlockManager
        # lock and the commit latency floor is paid once, not five times
        g2 = _group(
            (
                "stage2_mentions",
                lambda: stage2.mention_rows(fused),
                {"stage0_turns": sid, "stage1_people": sid},
            ),
            (
                "stage2_triples",
                lambda: stage2.all_triples_fused(fused, conv_aliases, meta),
                {"stage0_turns": sid, "stage1_people": sid, "stage2_mentions": sid},
            ),
            (
                "stage2_timeline",
                lambda: stage2.timeline_rows(fused),
                {"stage0_turns": sid},
            ),
            # stage 3 — CC labels committed separately so incremental
            # updates can seed from them (incremental_components)
            (
                "cc_labels",
                lambda: canonicalize.connected_components(
                    canonicalize.alias_edges(alias_reg), salt=self.cc_salt
                ),
                {"stage1_alias_registry": sid},
            ),
            # stage 4 — co-occurrence comes from the fused per-conv fold
            (
                "cooccurrence",
                lambda: stage2.cooc_scores(fused),
                {"stage2_mentions": sid},
            ),
        )
        mention_rows, triple_rows = g2["stage2_mentions"], g2["stage2_triples"]
        timeline_rows, labels, cooc = (
            g2["stage2_timeline"],
            g2["cc_labels"],
            g2["cooccurrence"],
        )
        entities = _materialize(
            "stage3_entities",
            lambda: canonicalize.entity_table_from_labels(people, labels),
            {"cc_labels": sid, "stage1_people": sid},
        )

        g4 = _group(
            (
                "nodes",
                lambda: graph.nodes_table(people, alias_reg, entities),
                {"stage3_entities": sid},
            ),
            # component-keyed mirror of cc_labels — maintained so the
            # incremental CoW label commit can read "members of component
            # X" as a pruned bucket read (plans/incremental._labels_cow)
            (
                "cc_members",
                lambda: labels.select("component", "vertex"),
                {"cc_labels": sid},
            ),
            ("edges", lambda: triple_rows, {"stage2_triples": sid}),
            (
                "timeline",
                lambda: graph.timeline_final(timeline_rows),
                {"stage2_timeline": sid},
            ),
        )
        nodes, edges, timeline = g4["nodes"], g4["edges"], g4["timeline"]
        fused.unpersist()

        return PipelineResult(
            tables={
                "turns": turns,
                "meta": meta,
                "people": people,
                "aliases": alias_reg,
                "mentions": mention_rows,
                "triples": triple_rows,
                "entities": entities,
                "nodes": nodes,
                "edges": edges,
                "cooccurrence": cooc,
                "timeline": timeline,
            },
            executed_stages=executed,
            skipped_stages=skipped,
        )
