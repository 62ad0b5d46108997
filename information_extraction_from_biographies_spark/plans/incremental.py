"""Incremental KG maintenance — process a NEW slice of transcripts against
a committed base snapshot without recomputing history.

The batch ``Pipeline`` (plans/pipeline.py) is the bootstrap; this module is
what a 10^12-turn corpus actually runs day-to-day: a delta of conversations
arrives, and the pipeline must (a) run stages 0-2 on the delta only, (b)
keep the GLOBAL registry exact even though its U4 rule is non-monotone
(a newly-seen alias value can evict a previously-registered name —
NER.py:543-544), (c) re-scan exactly those historical conversations whose
mention output could have changed, and (d) update entity components
without re-running connected components over the whole alias graph.

Scale posture (what is O(delta) vs O(vocabulary) vs O(history)):

- stages 0-2 on the delta: O(delta) — per-conversation local.
- registry merge: the per-person bit_or flag table (``registry_bits``) is
  associative, so base ⊎ delta is one hash aggregate over VOCABULARY-scale
  inputs (distinct persons, not corpus rows). The alias registry is a
  monotone union-distinct at the same scale.
- affected-conversation detection (``rescan="exact"``): the probe
  dictionary's changed-surface set (symmetric difference of (person,
  surface, kind) tuples — additions AND evictions) is collected (it is
  delta-sized; ``rescan_via_file=True`` swaps the collect for a parquet
  the workers read themselves, for deltas that change ≥10^7 surfaces)
  and matched against history with one shuffle-free
  mapInPandas READ of the base turn table. O(history) in bytes read —
  but no shuffle, no state, trivial CPU (an Aho-Corasick pass over text
  already in the page cache / object store). ``rescan="indexed"``
  removes even that read: the ``turn_grams`` posting index
  (operators/postings.py — distinct unigram/bigram → conv_id, a
  REPLACE-group corpus table maintained at O(delta chars) per delta,
  bucketed on gram) yields a candidate-conversation SUPERSET from the
  changed surfaces' least-frequent grams via file-pruned bucket reads,
  and the same exact probe verifies candidates only — detection becomes
  O(postings touched + candidate turns) with identical output (pinned
  in tests/test_postings.py). ``rescan="none"`` skips detection for
  bounded-staleness ingestion (historical mentions of newly-registered
  people appear at the next full compaction), which is how a real
  deployment amortizes even the index lookups.
- entity canonicalization: ``incremental_components`` — components only
  merge under edge additions, so prior labels contract the old graph to
  one vertex per component and CC runs over the O(delta) new-edge graph;
  history is touched by ONE broadcast relabel join.
- stage-2 outputs: committed as DELTA tables (new + rescanned
  conversations). A snapshot chain (parent pointer + per-snapshot
  excluded-conversation list) reconstructs the full view — Iceberg's
  snapshot/delete-file shape on the checkpoint store. Corpus-scale tables
  are never rewritten.
- vocabulary-scale tables (registry bits, people, alias registry, CC
  labels + the component-keyed cc_members mirror, entities, nodes):
  committed COPY-ON-WRITE when the base carries them bucketed
  (VOCAB_BUCKET_KEYS at one shared count) — only the buckets whose keys
  the delta touched are rewritten, untouched bucket files are hardlinked
  from the parent (CheckpointStore.commit_partial; Iceberg's CoW
  data-file rewrite). Per-delta vocabulary write I/O is
  O(touched buckets) ≈ O(delta), not O(distinct persons); every builder
  is per-key-local, so each table's touched-bucket contents are computed
  from file-pruned reads of the SAME bucket ids upstream. With CoW
  engaged the vocabulary-table MAINTENANCE path has no vocabulary-scale
  read or write left: the label commit resolves edge endpoints from
  pruned cc_labels buckets and merged-component members from pruned
  cc_members buckets (the inverted index exists precisely because
  `component` is not cc_labels' bucket key). The one remaining
  vocabulary-scale read per delta is the stage-2 probe-dictionary build
  (registry_surfaces over the full people/alias tables) — irreducible,
  because delta conversations must be scanned against EVERY known
  surface, not just the delta's. An unbucketed base (sandbox scale,
  where auto-bucketing stays plain) keeps the full-rewrite path.

Exactness: ``IncrementalPipeline.run`` over (base, delta) produces tables
row-for-row equal to the batch ``Pipeline`` over base ∪ delta (pinned by
tests/test_incremental.py, including chained incremental snapshots), with
``rescan="exact"``. Delta conversations whose conv_id already exists in
the base REPLACE the base conversation (re-delivery supersedes) — at the
corpus-table level. The registry bit flags are append-monotone, so a
redelivered conversation cannot RETRACT flags its earlier version
contributed (names it no longer mentions stay registered until a batch
re-run over the compacted corpus); under the input contract transcripts
are append-only and conv_ids never re-deliver with different content, so
this is a documented edge, not an operating mode.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..operators import canonicalize, graph, mentions, normalize, postings, scan, stage2
from ..operators.normalize import TURN_COLS
from ..sources.checkpoint import CheckpointStore
from .pipeline import (
    BUCKET_KEYS,
    VOCAB_BUCKET_KEYS,
    PipelineResult,
    bucket_args,
    pin_bucketed_scan_conf,
    resolve_buckets,
)

# corpus-scale tables are delta-committed with chain-resolved reads; the
# two groups differ in WHICH conversations their delta covers, hence which
# conversations the chain must drop from the parent view:
# - stage-0/1 outputs are registry-independent per conversation — the
#   delta holds only newly-delivered conversations ("replaced_convs")
# - stage-2+ outputs depend on the global probe dictionary — the delta
#   additionally holds rescanned historical conversations ("excluded_convs")
REPLACE_TABLES = frozenset(
    {"stage0_turns", "stage0_meta", "turn_grams", "stage1_names", "stage1_aliases"}
)
RESCAN_TABLES = frozenset(
    {
        "stage2_mentions",
        "stage2_triples",
        "stage2_timeline",
        "edges",
        "cooccurrence",
        "timeline",
    }
)
CORPUS_TABLES = REPLACE_TABLES | RESCAN_TABLES


def _meta_path(warehouse: str, snapshot_id: str) -> str:
    return os.path.join(warehouse, "_incremental", f"{snapshot_id}.json")


def _any_lineage(warehouse: str, snapshot_id: str) -> bool:
    """Does ANY table carry a committed lineage record at this snapshot
    id? One directory scan — the lineage dir holds a small JSON per stage
    commit (O(stages), never O(data)). Table names contain no ``-``, so
    the ``-{id}.json`` suffix match is exact."""
    ldir = os.path.join(warehouse, "_lineage")
    if not os.path.isdir(ldir):
        return False
    want = f"{snapshot_id}.json"
    # split on the FIRST dash (table names contain none; ids may)
    return any("-" in n and n.split("-", 1)[1] == want for n in os.listdir(ldir))


def _write_json_atomic(path: str, payload: dict) -> None:
    """tmp + os.replace — the same atomic commit point the store's
    lineage writes use. A torn metadata JSON is worse than a missing
    one: ``snapshot_parent`` / ``latest_snapshot`` iterate EVERY meta
    file, so one half-written file from a crashed driver would poison
    chain resolution warehouse-wide until deleted by hand."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def snapshot_parent(warehouse: str, snapshot_id: str) -> str | None:
    """Parent snapshot id if ``snapshot_id`` was committed incrementally."""
    p = _meta_path(warehouse, snapshot_id)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as f:
        return json.load(f)["parent"]


def _upgrade_legacy_turns(
    store: CheckpointStore, turns: DataFrame, snapshot_id: str
) -> DataFrame:
    """Schema upgrade at the read boundary: a ``stage0_turns`` member
    committed before biographee threading has no ``biographee`` column, so
    chained reads over a mixed chain would either crash (strict
    unionByName) or — worse, via allowMissingColumns in the rescan union —
    fill NULL and silently drop the rescanned conversations' hometown /
    relation-subject / biographee-prior outputs. Backfill the turn-0 rows
    from the SAME snapshot's ``stage0_meta`` (which has always carried
    biographee); non-zero turns stay NULL — exactly the threaded shape
    ``normalize_shared`` commits. One un-hinted equi-join per LEGACY chain
    member only (native members return unchanged), and ``compact_snapshot``
    rewrites the chain with the native schema, retiring the cost."""
    if "biographee" in turns.columns:
        return turns
    bio = store.read("stage0_meta", snapshot_id).select("conv_id", "biographee")
    cols = turns.columns
    return turns.join(bio, "conv_id", "left").select(
        *cols,
        F.when(F.col("turn_idx") == 0, F.col("biographee"))
        .cast("string")
        .alias("biographee"),
    )


def full_view(store: CheckpointStore, table: str, snapshot_id: str) -> DataFrame:
    """Resolve the FULL contents of ``table`` at ``snapshot_id`` across the
    incremental snapshot chain: each incremental snapshot holds a delta
    plus the conv_ids it superseded; the view is
    ``full(parent) − excluded ∪ delta``. Batch snapshots (no parent
    metadata) and vocabulary-scale tables read directly. ``replaced_convs``
    is delta-sized, but ``excluded_convs`` is the *affected-conversation*
    set — under ``rescan="exact"``/``"indexed"`` a hot changed surface can
    make it O(history). No ``F.broadcast`` hint: AQE broadcasts the
    anti-join side when its runtime size fits and degrades to a shuffle
    join when it doesn't, so a hot surface cannot OOM the driver."""
    parent = snapshot_parent(store.warehouse, snapshot_id)
    level = store.read(table, snapshot_id)
    if table == "stage0_turns":
        level = _upgrade_legacy_turns(store, level, snapshot_id)
    if parent is None or table not in CORPUS_TABLES:
        return level
    base = full_view(store, table, parent)
    excl_table = "replaced_convs" if table in REPLACE_TABLES else "excluded_convs"
    excluded = store.read(excl_table, snapshot_id)
    return base.join(excluded, "conv_id", "left_anti").unionByName(level)


def full_view_buckets(
    store: CheckpointStore,
    table: str,
    snapshot_id: str,
    key: str,
    num_buckets: int,
    bucket_ids,
) -> DataFrame:
    """``full_view`` restricted to the named buckets of ``key``'s hash
    layout at ``num_buckets`` — the file-pruned chained read. Every chain
    member committed bucketed on (key, num_buckets) contributes only the
    named buckets' files; an unbucketed or foreign-layout member (ids at
    a different count would select the WRONG keys) degrades to its full
    read for that level only. The result is therefore a SUPERSET of the
    rows whose key hashes into ``bucket_ids`` (exact when every member is
    aligned); callers must apply their exact key filter afterwards —
    which they need anyway, since a bucket holds every key that shares
    its hash."""
    parent = snapshot_parent(store.warehouse, snapshot_id)
    spec = store.bucketing_spec(table, snapshot_id)
    aligned = (
        bool(spec)
        and spec.get("keys") == [key]
        and spec.get("num_buckets") == num_buckets
    )
    level = (
        store.read_buckets(table, snapshot_id, bucket_ids)
        if aligned
        else store.read(table, snapshot_id)
    )
    if table == "stage0_turns":
        level = _upgrade_legacy_turns(store, level, snapshot_id)
    if parent is None or table not in CORPUS_TABLES:
        return level
    base = full_view_buckets(store, table, parent, key, num_buckets, bucket_ids)
    excl_table = "replaced_convs" if table in REPLACE_TABLES else "excluded_convs"
    excluded = store.read(excl_table, snapshot_id)
    # no broadcast hint: excluded_convs can be affected-conv-sized under
    # rescan (see full_view) — AQE picks broadcast only when it fits
    return base.join(excluded, "conv_id", "left_anti").unionByName(level)


def chain_has(store: CheckpointStore, table: str, snapshot_id: str) -> bool:
    """Is ``table`` committed at EVERY member of the snapshot chain?
    (A chained read touches each level; one missing member — e.g. a
    chain that predates the table — means the read cannot resolve.)"""
    sid: str | None = snapshot_id
    while sid is not None:
        if not store.is_committed(table, sid):
            return False
        sid = snapshot_parent(store.warehouse, sid)
    return True


def _chain_any(store: CheckpointStore, table: str, snapshot_id: str) -> bool:
    """Is ``table`` committed at ANY member of the snapshot chain? (The
    chained read cannot resolve unless ``chain_has``, but compaction
    rebuilds from the compacted turns anyway — any level carrying the
    table evidences the operator opted into it.)"""
    sid: str | None = snapshot_id
    while sid is not None:
        if store.is_committed(table, sid):
            return True
        sid = snapshot_parent(store.warehouse, sid)
    return False


def full_view_stops(store: CheckpointStore, snapshot_id: str) -> DataFrame:
    """Union of the ``gram_stops`` stoplists committed anywhere on the
    chain. Stops are STICKY (union, no replacement): a gram stopped at
    any level stays unusable for pruning — conservative and exact, since
    stopping only ever widens the fallback set. Deltas commit no stops;
    base builds and compactions derive them, so this is usually one
    small table."""
    levels = []
    sid: str | None = snapshot_id
    while sid is not None:
        if store.is_committed("gram_stops", sid):
            levels.append(store.read("gram_stops", sid))
        sid = snapshot_parent(store.warehouse, sid)
    if not levels:
        return store.spark.createDataFrame([], "gram string")
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out.distinct()


def _changed_surface_convs(base_turns: DataFrame, index) -> DataFrame:
    """conv_ids of historical conversations whose text contains ANY changed
    probe surface → (conv_id). Shuffle-free scan: surfaces never contain
    a newline (the caller asserts), so a match in the paragraph-joined
    conversation text implies a match in some single turn — per-turn
    matching over the raw partition layout suffices, and only the (tiny)
    match set shuffles for the distinct.

    ``index``: SurfaceIndexHandle (driver-collected, broadcast) or
    FileSurfaceIndexHandle (each worker reads the surface parquet itself —
    the ≥10^7-changed-surface path where a driver collect would OOM; same
    escape hatch the batch registry has via scan.build_surface_index)."""
    import pandas as pd

    getter = index.worker_getter()

    def _probe(batches):
        idx = getter()
        for pdf in batches:
            hits = [
                cid
                for cid, txt in zip(pdf["conv_id"], pdf["norm_text"])
                if isinstance(txt, str) and idx.any_in(txt)
            ]
            yield pd.DataFrame({"conv_id": sorted(set(hits))})

    return (
        base_turns.select("conv_id", "norm_text")
        .mapInPandas(_probe, schema="conv_id string")
        .distinct()
    )


def compact_snapshot(
    store: CheckpointStore, snapshot_id: str, new_snapshot: str, buckets: int | None = None
) -> list[str]:
    """Rewrite an incremental chain into a flat BASE snapshot: every
    table's full view is committed under ``new_snapshot`` with no parent
    metadata, so later reads stop paying the chain-union plan and the old
    chain becomes expirable (``CheckpointStore.expire_snapshots``) —
    Iceberg's rewrite-data-files compaction on this store. Pure rewrite:
    bounded-staleness ingestion (``rescan="none"``) is healed by a batch
    ``Pipeline`` run over the compacted turn table, not by compaction
    itself. Returns the compacted table names.

    ``buckets``: BUCKET_KEYS layout for the rewritten tables — the
    compaction is the natural moment to (re)establish co-location, since
    a chain of per-delta files has lost it. None → auto-sized from the
    chain's on-disk bytes (``auto_bucket_count`` over the full view:
    sandbox-scale chains stay plain, corpus-scale ones get one bucket per
    ~128 MB); 0 forces plain. The VOCAB_BUCKET_KEYS tables are sized
    TOGETHER at the largest member's count — copy-on-write engagement
    (``IncrementalPipeline._cow_buckets``) requires one shared layout, so
    per-table sizing after a corpus-scale compaction would silently
    disable CoW for every subsequent delta."""
    from .pipeline import STAGES, VOCAB_BUCKET_KEYS, auto_bucket_count

    tables = list(dict.fromkeys([*STAGES, "registry_bits", "cc_labels"]))
    vocab_n = buckets
    if buckets is None:
        vocab_n = max(
            (
                auto_bucket_count(full_view(store, t, snapshot_id))
                for t in VOCAB_BUCKET_KEYS
                if store.is_committed(t, snapshot_id)
            ),
            default=0,
        )
    done = []
    # The gram index is REBUILT from the compacted turns, not copied:
    # the chained turn_grams view is stop-filtered, so a copy would have
    # to keep the sticky stoplist forever — re-deriving document
    # frequencies over the full corpus (compaction is already an
    # O(corpus) rewrite) refreshes the stop set instead, healing both
    # grams that became hot since the base build and stops inherited
    # from smaller corpora. Rebuilt when ANY chain level carries the
    # index, not only a fully-indexed chain: a partially-backfilled
    # chain (ensure_gram_index crashed mid-chain) would otherwise lose
    # the index the operator paid an O(history) backfill for, silently
    # degrading every later rescan="indexed" to the full-history scan.
    rebuild_index = _chain_any(store, "turn_grams", snapshot_id)
    for t in tables:
        if t in ("turn_grams", "gram_stops"):
            continue
        if not store.is_committed(t, snapshot_id):
            continue
        view = full_view(store, t, snapshot_id)
        key = BUCKET_KEYS.get(t)
        if t in VOCAB_BUCKET_KEYS:
            n = vocab_n
        else:
            n = buckets if buckets is not None else auto_bucket_count(view)
        # per-table count (vocab tables share vocab_n), so this is NOT
        # pipeline.bucket_args — name kept distinct to avoid shadowing it
        commit_bucketing = {"bucket_keys": key, "buckets": n} if key and n else {}
        store.commit(
            view,
            t,
            new_snapshot,
            input_snapshots={t: snapshot_id},
            **commit_bucketing,
        )
        done.append(t)
    if rebuild_index:
        if buckets is not None:
            gram_buckets = buckets
        elif chain_has(store, "turn_grams", snapshot_id):
            gram_buckets = auto_bucket_count(full_view(store, "turn_grams", snapshot_id))
        else:
            # partially-indexed chain: the chained gram view cannot
            # resolve — size from the compacted turn table instead (the
            # gram table derives from it; same order of magnitude)
            gram_buckets = auto_bucket_count(store.read("stage0_turns", new_snapshot))
        done += build_gram_index(
            store,
            new_snapshot,
            turns=store.read("stage0_turns", new_snapshot),
            n_convs=store.lineage("stage0_meta", new_snapshot)["total_rows"],
            buckets=gram_buckets,
        )
    return done


def build_gram_index(
    store: CheckpointStore,
    snapshot_id: str,
    turns: DataFrame,
    n_convs: int,
    buckets: int = 0,
    max_df: int | None = None,
) -> list[str]:
    """Commit the ``gram_stops`` + ``turn_grams`` pair for one snapshot
    level from its turn rows (operators/postings.py). Stoplist first —
    a turn_grams-without-stops level would read stopped grams as absent.
    ``max_df`` None → max(200, 5% of ``n_convs``), the Pipeline default."""
    raw = postings.conv_grams(turns).persist()
    if max_df is None:
        max_df = max(200, int(0.05 * n_convs))
    store.commit(
        postings.hot_grams(raw, max_df),
        "gram_stops",
        snapshot_id,
        input_snapshots={"stage0_turns": snapshot_id},
    )
    kept = postings.apply_stops(raw, store.read("gram_stops", snapshot_id))
    args = {"bucket_keys": "gram", "buckets": buckets} if buckets else {}
    store.commit(
        kept,
        "turn_grams",
        snapshot_id,
        input_snapshots={"stage0_turns": snapshot_id, "gram_stops": snapshot_id},
        **args,
    )
    raw.unpersist()
    return ["gram_stops", "turn_grams"]


def ensure_gram_index(
    store: CheckpointStore,
    tip: str,
    buckets: int = 0,
    max_df: int | None = None,
) -> list[str]:
    """Backfill the gram posting index onto a chain built without it
    (``Pipeline(gram_index=False)`` or pre-index snapshots), so
    ``rescan="indexed"`` can engage. Missing levels get their postings
    from their OWN committed stage0_turns delta; the stoplist is derived
    once over the full turn view at ``tip`` and committed at the oldest
    missing level (stops are sticky — ``full_view_stops`` unions the
    chain). One O(history chars) pass — the same cost class as a single
    exact rescan, amortized over every future indexed delta. Returns
    ``level:table`` strings for the commits made."""
    levels: list[str] = []
    sid: str | None = tip
    while sid is not None:
        levels.append(sid)
        sid = snapshot_parent(store.warehouse, sid)
    missing = [s for s in levels if not store.is_committed("turn_grams", s)]
    if not missing:
        return []
    done = []
    if not any(store.is_committed("gram_stops", s) for s in levels):
        if max_df is None:
            n_convs = full_view(store, "stage0_meta", tip).count()
            max_df = max(200, int(0.05 * n_convs))
        raw_all = postings.conv_grams(full_view(store, "stage0_turns", tip))
        oldest_missing = missing[-1]
        store.commit(
            postings.hot_grams(raw_all, max_df),
            "gram_stops",
            oldest_missing,
            input_snapshots={"stage0_turns": tip},
        )
        done.append(f"{oldest_missing}:gram_stops")
    stops = full_view_stops(store, tip)
    args = {"bucket_keys": "gram", "buckets": buckets} if buckets else {}
    for s in missing:
        lvl_turns = store.read("stage0_turns", s)
        store.commit(
            postings.apply_stops(postings.conv_grams(lvl_turns), stops),
            "turn_grams",
            s,
            input_snapshots={"stage0_turns": s},
            **args,
        )
        done.append(f"{s}:turn_grams")
    return done


def _stats_path(warehouse: str, snapshot_id: str) -> str:
    return os.path.join(warehouse, "_stats", f"{snapshot_id}.json")


def _meta_fingerprint(store: CheckpointStore, snapshot_id: str) -> int | None:
    """Identity of the snapshot's own stage0_meta commit (lineage-file
    mtime_ns). Ancestors of a live chain are immutable (expiry-protected
    via ``_chain_protected``), so the tip commit's identity fingerprints
    the whole chain's content — it changes exactly when the id is reused
    for a different build after expiry."""
    try:
        return os.stat(store._lineage_path("stage0_meta", snapshot_id)).st_mtime_ns
    except OSError:
        return None


def snapshot_conv_count(store: CheckpointStore, snapshot_id: str) -> int:
    """Conversation count of a snapshot (chain-resolved), cached in a
    ``_stats`` sidecar so repeat policy decisions are free. The first
    call on an uncached snapshot pays ONE count over the conv-scale meta
    view (one row per conversation — never the turns table). The cache is
    keyed by the snapshot's commit fingerprint: sidecars outlive
    ``expire_snapshots``, so a snapshot id REUSED for a different build
    would otherwise serve the old content's count and silently skew the
    maintenance policy."""
    p = _stats_path(store.warehouse, snapshot_id)
    fp = _meta_fingerprint(store, snapshot_id)
    if os.path.exists(p):
        try:
            with open(p, encoding="utf-8") as f:
                rec = json.load(f)
            if rec.get("fp") == fp:
                return rec["n_convs"]
            # stale (id reused after expiry) or legacy sidecar — recount
        except (ValueError, KeyError):
            pass  # torn sidecar — recount and rewrite below
    n = full_view(store, "stage0_meta", snapshot_id).count()
    _write_json_atomic(p, {"n_convs": n, "fp": fp})
    return n


@dataclass(frozen=True)
class MaintenanceCostModel:
    """Linear wall-clock model fitted to BENCH/crossover.json (15-cell
    sweep: base 3k/12k/48k convs × delta 1-50%, 12 turns/conv, 32-core
    sandbox; least-squares, 14/15 decision agreement within the ±12%
    noise band — BENCH/BASELINE.md §"Incremental-vs-rebuild crossover"):

        delta_cost   = delta_floor + per_base·base + per_delta·delta
        rebuild_cost = rebuild_floor + per_conv·(base + delta)

    The delta path's cost is dominated by its FLOOR (per-stage commit
    latency) plus a base-proportional term (CoW vocabulary/bucket
    rewrites), with the delta-proportional term tiny — so the measured
    knee is in BASE SIZE (~10k convs at these constants), not the
    delta/base ratio: below it the straight-line batch rebuild wins at
    ANY delta fraction, above it incremental wins even at 50/50 (48k
    base: 1.01-1.69× across all fractions). Constants are this sandbox's
    seconds/conversation; a deployment recalibrates by re-running
    tools/bench_crossover.py against its own cluster."""

    delta_floor_s: float = 14.32
    delta_per_base_conv_s: float = 3.75e-4
    delta_per_delta_conv_s: float = 6.03e-4
    rebuild_floor_s: float = 11.47
    rebuild_per_conv_s: float = 6.68e-4

    def predict(self, base_convs: int, delta_convs: int) -> tuple[float, float]:
        """→ (incremental_cost_s, rebuild_cost_s)."""
        d = (
            self.delta_floor_s
            + self.delta_per_base_conv_s * base_convs
            + self.delta_per_delta_conv_s * delta_convs
        )
        r = self.rebuild_floor_s + self.rebuild_per_conv_s * (base_convs + delta_convs)
        return d, r


def maintain(
    spark: SparkSession,
    warehouse: str,
    base_snapshot: str,
    snapshot_id: str,
    new_transcripts: DataFrame,
    rescan: str = "exact",
    cost_model: MaintenanceCostModel | None = None,
    force: str | None = None,
    **pipeline_kwargs,
):
    """Apply a transcript delta by whichever path is cheaper — the
    ``rebuild_if_cheaper`` policy escape for incremental maintenance.

    Measures nothing at decision time beyond two conversation counts
    (delta: delta-sized; base: cached by ``snapshot_conv_count``), asks
    the ``cost_model`` (default: the BENCH/crossover.json fit) which path
    is predicted cheaper, and runs it:

    - **incremental** (``IncrementalPipeline``) — the large-base regime,
      where the delta path's O(delta + vocabulary) cost beats a full
      O(history) rebuild;
    - **rebuild** (batch ``Pipeline`` over ``full_view`` history minus the
      replaced conversations, union the delta) — the small-base /
      commit-floor regime. The rebuild lands as a NEW BATCH snapshot (no
      parent pointer): it starts a fresh chain, exactly like
      ``compact_snapshot``'s output, and the caller should treat the
      returned snapshot as the new base.

    ``force``: ``"incremental"`` / ``"rebuild"`` overrides the policy
    (operational escape hatch). Returns ``(path, result)`` with ``path``
    the choice made. ``pipeline_kwargs`` are forwarded to whichever
    pipeline runs; kwargs only the OTHER path accepts are dropped for the
    chosen one (``gram_index``/``cc_salt``/... are batch-only,
    ``rescan_via_file``/``enable_cow``/... incremental-only — an operator
    setting them must not crash the day the policy flips paths), while a
    kwarg NEITHER accepts raises immediately (typo protection).

    The chosen path is PINNED per snapshot id (``_maintain/{id}.json``,
    written atomically before any table commit): both pipelines resume
    from committed tables by name, so retrying a crashed attempt under
    the OTHER path would silently resume a full batch build from the
    prior attempt's delta-only tables (or vice versa) and drop the base
    history. A retry therefore follows the pinned path even if the
    policy re-decides differently; ``force`` against the pin raises —
    start a fresh snapshot_id (and expire the partial one) to switch."""
    import inspect

    from .pipeline import Pipeline

    if force not in (None, "incremental", "rebuild"):
        raise ValueError(f"force must be None|'incremental'|'rebuild', got {force!r}")

    def _accepted(cls) -> set:
        fixed = {"self", "spark", "warehouse", "snapshot_id", "base_snapshot"}
        return set(inspect.signature(cls.__init__).parameters) - fixed

    batch_keys, inc_keys = _accepted(Pipeline), _accepted(IncrementalPipeline)
    unknown = set(pipeline_kwargs) - batch_keys - inc_keys
    if unknown:
        raise TypeError(
            f"maintain() got kwargs neither pipeline accepts: {sorted(unknown)}"
        )

    store = CheckpointStore(spark, warehouse)
    marker_p = os.path.join(warehouse, "_maintain", f"{snapshot_id}.json")
    prior: dict | None = None
    if os.path.exists(marker_p):
        with open(marker_p, encoding="utf-8") as f:
            prior = json.load(f)
    if prior is not None and not _any_lineage(warehouse, snapshot_id):
        # stale pin: the prior attempt committed no table under this id
        # (crash before the first commit, or its tables were fully
        # expired for id reuse) — there is nothing to mix, so the pin
        # only encodes a dead decision. Re-decide and overwrite it.
        prior = None
    if prior is not None:
        if prior.get("base") != base_snapshot:
            raise ValueError(
                f"snapshot {snapshot_id!r} carries a maintenance attempt over base "
                f"{prior.get('base')!r}; resuming it over {base_snapshot!r} would mix "
                "histories — use a fresh snapshot_id"
            )
        pinned = prior["path"]
        if force is not None and force != pinned:
            raise ValueError(
                f"snapshot {snapshot_id!r} carries a partial {pinned!r} maintenance "
                f"attempt; resuming it as {force!r} would resume from the prior "
                "attempt's committed tables and mix incremental and batch table "
                "levels under one snapshot id — retry with force=" + repr(pinned)
                + " (or no force) to finish it, or use a fresh snapshot_id and "
                "expire this one (expire_branch + CheckpointStore.expire_snapshots)"
            )
        rebuild = pinned == "rebuild"
    elif force is None:
        model = cost_model or MaintenanceCostModel()
        delta_convs = new_transcripts.select("conv_id").distinct().count()
        base_convs = snapshot_conv_count(store, base_snapshot)
        inc_cost, reb_cost = model.predict(base_convs, delta_convs)
        rebuild = reb_cost <= inc_cost
    else:
        rebuild = force == "rebuild"
    if prior is None:
        _write_json_atomic(
            marker_p,
            {"path": "rebuild" if rebuild else "incremental", "base": base_snapshot},
        )

    if rebuild:
        delta_ids = new_transcripts.select("conv_id").distinct()
        history = (
            full_view(store, "stage0_turns", base_snapshot)
            .select(*TURN_COLS)
            .join(delta_ids, "conv_id", "left_anti")
        )
        full = history.unionByName(new_transcripts.select(*TURN_COLS))
        kw = {k: v for k, v in pipeline_kwargs.items() if k in batch_keys}
        res = Pipeline(spark, warehouse, snapshot_id=snapshot_id, **kw).run(full)
        return "rebuild", res

    kw = {k: v for k, v in pipeline_kwargs.items() if k in inc_keys}
    res = IncrementalPipeline(
        spark, warehouse, base_snapshot, snapshot_id, **kw
    ).run(new_transcripts, rescan=rescan)
    return "incremental", res


def expire_branch(warehouse: str, snapshot_id: str) -> bool:
    """Un-chain ONE snapshot: remove its parent-pointer metadata so
    ``streaming.ingest.latest_snapshot`` no longer considers it — the
    resolution for a genuinely forked history (two snapshots naming the
    same parent, e.g. two concurrent ingest drivers). Descendants of the
    expired branch (if any) become orphans and should be expired too,
    tip-first. The snapshot's table levels stay on disk as ordinary
    ``CheckpointStore.expire_snapshots`` candidates. Returns True if a
    pointer was removed. Refuses when another live snapshot still names
    this one as parent (expiring it would strand the descendant's chain)."""
    inc_dir = os.path.join(warehouse, "_incremental")
    if os.path.isdir(inc_dir):
        for name in os.listdir(inc_dir):
            if not name.endswith(".json"):
                continue
            child = name[: -len(".json")]
            if child != snapshot_id and snapshot_parent(warehouse, child) == snapshot_id:
                raise ValueError(
                    f"cannot expire {snapshot_id!r}: {child!r} chains on it; "
                    "expire the branch tip-first"
                )
    p = _meta_path(warehouse, snapshot_id)
    if not os.path.exists(p):
        return False
    os.remove(p)
    return True


def retire_chain(warehouse: str, tip: str) -> list[str]:
    """Remove the incremental metadata of ``tip`` and every ancestor —
    the snapshots stop being chain-protected and become ordinary expiry
    candidates (``CheckpointStore.expire_snapshots``). Call AFTER
    ``compact_snapshot`` has rewritten the chain into a flat base;
    ``full_view`` on retired ids degrades to direct delta reads, so the
    compacted snapshot is the only consistent read point afterwards.
    Returns the retired snapshot ids (tip first)."""
    retired = []
    sid = tip
    while sid is not None:
        p = _meta_path(warehouse, sid)
        parent = snapshot_parent(warehouse, sid)
        if os.path.exists(p):
            os.remove(p)
            retired.append(sid)
        sid = parent
    return retired


class IncrementalPipeline:
    """Apply a transcript delta to a committed snapshot → a new snapshot.

    ``base_snapshot`` may itself be incremental (chains resolve through
    ``full_view``). All commits carry lineage like the batch pipeline, and
    ``run`` is resumable: committed incremental stages are skipped."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        base_snapshot: str,
        snapshot_id: str,
        user_dict=None,
        lexicons=None,
        buckets: int | None = None,
        rescan_via_file: bool = False,
        enable_cow: bool = True,
        max_conv_turns: int | None = None,
        group_partitioner: str = "hash",
    ) -> None:
        """``rescan_via_file``: distribute the changed-surface probe set
        via a parquet under the warehouse instead of driver collect +
        broadcast — the ≥10^7-changed-surface path, the same file path the
        batch pipeline picks for its registry at that size
        (pipeline.REGISTRY_VIA_FILE_ROWS). Affected-conv
        output is identical on both paths (tests/test_incremental.py).

        ``enable_cow``: copy-on-write vocabulary commits when the base
        carries the bucketed layout (module docstring); False forces the
        full-rewrite path — an operational escape hatch and the A/B
        comparator tools/bench_cow.py measures against.

        ``max_conv_turns`` / ``group_partitioner``: same long-conversation
        controls as the batch pipeline (plans/pipeline.py) applied to the
        DELTA's conversations — the cap filters ``turn_idx`` before stage 0
        and audits ``capped_convs`` in the stage0_turns metrics; the
        partitioner choice affects only the delta passes' shuffles."""
        if base_snapshot == snapshot_id:
            raise ValueError("incremental snapshot id must differ from base")
        self.spark = spark
        self.store = CheckpointStore(spark, warehouse)
        self.warehouse = warehouse
        self.base = base_snapshot
        self.snapshot_id = snapshot_id
        self.user_dict = user_dict
        # gazetteers.Lexicons for the delta's extraction passes — MUST
        # match the base run's lexicons or the merge mixes vocabularies
        self.lexicons = lexicons
        self.rescan_via_file = rescan_via_file
        self.enable_cow = enable_cow
        self.max_conv_turns = max_conv_turns
        if group_partitioner not in ("hash", "range"):
            raise ValueError(
                f"group_partitioner must be 'hash' or 'range', got {group_partitioner!r}"
            )
        self.group_partitioner = group_partitioner
        # same BUCKET_KEYS layout as the batch pipeline: the per-delta
        # rejoins (people ⋈ labels, nodes' name-keyed aggregate+joins, the
        # delta turn passes) read their committed sides pre-partitioned.
        # None → auto-sized at run() from the DELTA's on-disk bytes
        # (plans.pipeline.auto_bucket_count): a sandbox-scale delta
        # commits plain parquet (bucketing a sub-GiB delta measured ~+10%
        # pure overhead), a production-scale one gets one bucket/128 MB.
        self.buckets = buckets
        if buckets is not None and buckets > 0:
            # same correctness pin as plans.pipeline: mapInPandas declares
            # no distribution requirement, so without this the planner
            # reverts bucketed scans to splittable reads and a big bucket
            # file can fragment a conversation across partitions
            pin_bucketed_scan_conf(spark)

    def _resolve_buckets(self, new_transcripts) -> int:
        self.buckets = resolve_buckets(self.spark, self.buckets, new_transcripts)
        return self.buckets

    def _bucket_args(self, name: str) -> dict:
        return bucket_args(name, self.buckets)

    def _cow_buckets(self) -> int:
        """Shared bucket count of the base's vocabulary tables, or 0 when
        copy-on-write cannot engage (any table missing, unbucketed, on the
        wrong key, or at a different count — cross-table file-pruned reads
        require one hash layout)."""
        n = 0
        for t, key in VOCAB_BUCKET_KEYS.items():
            spec = self.store.bucketing_spec(t, self.base)
            if not spec or spec.get("keys") != [key]:
                return 0
            if n and spec["num_buckets"] != n:
                return 0
            n = spec["num_buckets"]
        return n

    def _touched_ids(self, keys_df: DataFrame, key: str, n: int) -> list[int]:
        """Bucket ids the delta's keys hash into — the same Murmur3-pmod
        the bucketed layout uses (verified by tests/test_cow.py). Bounded
        by n (≤ AUTO_BUCKET_MAX), so the collect is a few KB at any
        corpus size."""
        rows = (
            keys_df.select(F.pmod(F.hash(F.col(key)), F.lit(n)).alias("b"))
            .distinct()
            .collect()
        )
        return sorted(int(r["b"]) for r in rows if r["b"] is not None)

    def _turns_for(self, conv_set: DataFrame) -> DataFrame:
        """Base turn rows of the given (small) conversation set,
        file-pruned to their conv_id buckets when the base chain carries
        the bucketed layout; the explicit semijoin keeps an unbucketed or
        misaligned chain member correct (just unpruned)."""
        store, base = self.store, self.base
        spec = store.bucketing_spec("stage0_turns", base)
        if spec and spec.get("keys") == ["conv_id"]:
            n = spec["num_buckets"]
            ids = self._touched_ids(conv_set, "conv_id", n)
            src = full_view_buckets(
                store, "stage0_turns", base, "conv_id", n, ids
            )
        else:
            src = full_view(store, "stage0_turns", base)
        # no broadcast hint: conv_set is usually delta-sized, but the
        # indexed-rescan candidate set is bounded only by max_df per
        # changed surface — at the 10^10-conversation posture a forced
        # broadcast of it is the same driver-OOM pattern the flagship
        # de-hinted for meta; AQE broadcasts when the runtime size fits
        return src.join(conv_set, "conv_id", "leftsemi")

    # -- helpers -----------------------------------------------------
    def _write_meta(self, rescan_mode: str) -> None:
        # this IS the snapshot's commit point — it must be atomic
        _write_json_atomic(
            _meta_path(self.warehouse, self.snapshot_id),
            {"parent": self.base, "rescan": rescan_mode},
        )

    def run(
        self, new_transcripts: DataFrame, rescan: str = "exact"
    ) -> PipelineResult:
        # every persisted frame registers in _live; the finally releases
        # them on ANY exit (a mid-run commit failure must not pin blocks
        # in the BlockManager for the driver's lifetime)
        self._live: list[DataFrame] = []
        try:
            return self._run_impl(new_transcripts, rescan)
        finally:
            for df in self._live:
                try:
                    df.unpersist()
                except Exception:  # noqa: BLE001 — cleanup must not mask
                    pass

    def _run_impl(
        self, new_transcripts: DataFrame, rescan: str
    ) -> PipelineResult:
        if rescan not in ("exact", "indexed", "none"):
            raise ValueError(
                f"rescan must be 'exact', 'indexed' or 'none', got {rescan!r}"
            )
        self._resolve_buckets(new_transcripts)
        store, sid, base = self.store, self.snapshot_id, self.base
        executed: list[str] = []
        skipped: list[str] = []
        stage_metrics: dict[str, dict] = {}
        if self.max_conv_turns is not None:
            # bounded per-group memory for the delta's conversations —
            # same audited scan predicate as the batch pipeline
            cut = F.col("turn_idx") >= F.lit(self.max_conv_turns)
            stage_metrics["stage0_turns"] = {
                "max_conv_turns": self.max_conv_turns,
                "capped_convs": new_transcripts.filter(cut)
                .select("conv_id")
                .distinct()
                .count(),
            }
            new_transcripts = new_transcripts.filter(~cut)
        # copy-on-write engagement: vocabulary tables commit only their
        # touched buckets when the base carries the shared bucketed layout
        cow_n = self._cow_buckets() if self.enable_cow else 0
        cow_builders: dict = {}  # name -> () -> (touched_bucket_ids, df_touched)
        cow_cache = self._live  # persisted frames, released by run()'s finally

        def _materialize(name: str, build, inputs: dict[str, str]) -> DataFrame:
            if store.is_committed(name, sid):
                skipped.append(name)
                return store.read(name, sid)
            cow = cow_builders.get(name)
            out = cow() if cow is not None else None  # None → full fallback
            if out is not None:
                touched, df_touched = out
                store.commit_partial(
                    df_touched, name, sid, base, touched,
                    input_snapshots=inputs, metrics=stage_metrics.get(name),
                )
            else:
                args = self._bucket_args(name)
                if cow_n and name in VOCAB_BUCKET_KEYS:
                    # a vocab table falling back to a full commit in an
                    # otherwise-CoW run must keep the base's shared layout,
                    # or the next delta's _cow_buckets would silently
                    # disengage CoW for EVERY table
                    args = {"bucket_keys": VOCAB_BUCKET_KEYS[name], "buckets": cow_n}
                store.commit(
                    build(), name, sid, input_snapshots=inputs,
                    metrics=stage_metrics.get(name), **args,
                )
            executed.append(name)
            return store.read(name, sid)

        def _group(*specs) -> dict:
            from .pipeline import materialize_group

            return materialize_group(_materialize, list(specs))

        # ---- stage 0 (delta only) ----------------------------------
        norm_turns, norm_meta, enriched0 = normalize.normalize_shared(
            new_transcripts, persist_enriched=True
        )
        cow_cache.append(enriched0)
        g0 = _group(
            ("stage0_turns", lambda: norm_turns, {"transcripts": "delta"}),
            ("stage0_meta", lambda: norm_meta, {"transcripts": "delta"}),
        )
        d_turns, d_meta = g0["stage0_turns"], g0["stage0_meta"]
        enriched0.unpersist()

        # ---- stage 1 (delta extraction + vocabulary-scale merge) ---
        # committed-layout check, not this run's knob (see plans/pipeline)
        d_turns_bucketed = (
            store.lineage("stage0_turns", sid).get("bucketing", {}) or {}
        ).get("keys") == ["conv_id"]
        if d_turns_bucketed:
            # committed layout, not this run's knob (see plans/pipeline
            # pin_bucketed_scan_conf): a resume with buckets=0 over a
            # bucketed delta snapshot still needs the planner pin
            pin_bucketed_scan_conf(self.spark)
        extracted = mentions.extract_people_combined(
            d_turns,
            d_meta,
            user_dict=self.user_dict,
            pre_partitioned=d_turns_bucketed,
            partitioner=self.group_partitioner,
            lexicons=self.lexicons,
        ).persist()
        cow_cache.append(extracted)
        ext_names, ext_aliases = mentions.split_extracted(extracted)
        g1_specs = [
            ("stage1_names", lambda: ext_names, {"stage0_turns": sid}),
            ("stage1_aliases", lambda: ext_aliases, {"stage0_turns": sid}),
        ]
        if chain_has(store, "turn_grams", base):
            # gram postings of the DELIVERED conversations only — the
            # REPLACE-group delta of the rescan index (O(delta chars)),
            # maintained only when the base chain carries the index
            # (Pipeline(gram_index=...)); the base chain's stoplist
            # applies (deltas never add stops — stops are re-derived at
            # compaction, see compact_snapshot)
            g1_specs.append(
                (
                    "turn_grams",
                    lambda: postings.apply_stops(
                        postings.conv_grams(d_turns),
                        full_view_stops(store, base),
                    ),
                    {"stage0_turns": sid},
                )
            )
        g1 = _group(*g1_specs)
        d_names, d_aliases = g1["stage1_names"], g1["stage1_aliases"]
        extracted.unpersist()

        def _base_bits() -> DataFrame:
            # bootstrap: a batch base has no bits table — derive it once
            # from the base stage-1 tables (full-view across any chain)
            if store.is_committed("registry_bits", base):
                return store.read("registry_bits", base)
            return mentions.registry_bits(
                full_view(store, "stage1_names", base),
                full_view(store, "stage1_aliases", base),
            )

        def _committed_touched(name: str) -> list[int] | None:
            """Touched-bucket ids a vocab table was CoW-committed with at
            ``sid`` — the durable (resume-safe) source for downstream
            touched-set unions. A full-but-bucketed commit at the shared
            count degrades to \"all buckets\"; anything else (plain
            parquet, foreign count) returns None and the consumer falls
            back to its full build."""
            lin = store.lineage(name, sid)
            cow = lin.get("cow")
            if cow is not None:
                return [int(b) for b in cow["touched_buckets"]]
            if (lin.get("bucketing") or {}).get("num_buckets") == cow_n:
                return list(range(cow_n))
            return None

        def _readable(name: str) -> bool:
            """Can ``name``@sid serve file-pruned bucket reads at cow_n?"""
            spec = store.bucketing_spec(name, sid)
            return bool(spec) and spec.get("num_buckets") == cow_n

        if cow_n:
            # persisted: the touched-ids collect AND the commit write both
            # consume this delta-sized aggregate — without the persist the
            # shuffle agg would run twice per ingestion
            delta_bits = mentions.registry_bits(d_names, d_aliases).persist()
            cow_cache.append(delta_bits)
            d_alias_rows = d_aliases.select("name", "alias_type", "alias")

            def _bits_cow():
                t = self._touched_ids(delta_bits, "person", cow_n)
                return t, mentions.merge_registry_bits(
                    store.read_buckets("registry_bits", base, t), delta_bits
                )

            def _people_cow():
                t = _committed_touched("registry_bits")
                if t is None or not _readable("registry_bits"):
                    return None
                return t, mentions.people_from_bits(
                    store.read_buckets("registry_bits", sid, t)
                )

            def _alias_cow():
                t = self._touched_ids(d_alias_rows, "name", cow_n)
                return t, store.read_buckets(
                    "stage1_alias_registry", base, t
                ).unionByName(d_alias_rows).distinct()

            cow_builders.update(
                registry_bits=_bits_cow,
                stage1_people=_people_cow,
                stage1_alias_registry=_alias_cow,
            )

        bits = _materialize(
            "registry_bits",
            lambda: mentions.merge_registry_bits(
                _base_bits(), mentions.registry_bits(d_names, d_aliases)
            ),
            {"stage1_names": sid, "stage1_aliases": sid},
        )
        people = _materialize(
            "stage1_people",
            lambda: mentions.people_from_bits(bits),
            {"registry_bits": sid},
        )
        base_alias_reg = store.read("stage1_alias_registry", base)
        alias_reg = _materialize(
            "stage1_alias_registry",
            lambda: base_alias_reg.unionByName(
                d_aliases.select("name", "alias_type", "alias")
            ).distinct(),
            {"stage1_aliases": sid},
        )

        # ---- affected-history detection ----------------------------
        base_surfaces = mentions.registry_surfaces(
            store.read("stage1_people", base), base_alias_reg
        )
        merged_surfaces = mentions.registry_surfaces(people, alias_reg)

        replaced = _materialize(
            "replaced_convs",
            lambda: d_turns.select("conv_id").distinct(),
            {"stage0_turns": sid},
        )

        def _excluded() -> DataFrame:
            delta_convs = replaced
            if rescan == "none":
                return delta_convs
            # symmetric difference of probe tuples — additions AND
            # evictions both invalidate historical scan output
            # persisted: the two exceptAll shuffles over the
            # vocabulary-scale surface tables feed up to five separate
            # actions below (newline guard, file write / collect, the
            # all-stopped probe, touched-bucket ids, candidate eval) —
            # without the persist each re-runs both shuffles from scratch
            changed = (
                merged_surfaces.exceptAll(base_surfaces)
                .unionByName(base_surfaces.exceptAll(merged_surfaces))
                .select("surface")
                .distinct()
                .filter(F.col("surface").isNotNull() & (F.col("surface") != ""))
            ).persist()
            cow_cache.append(changed)
            # A surface containing a newline could span turns in the
            # paragraph-joined text; none can exist (names/aliases are
            # single-line extractions) — distributed guard so the
            # shuffle-free per-turn probe can never silently miss one.
            if changed.filter(F.col("surface").contains("\n")).limit(1).count():
                raise ValueError("probe surfaces must be single-line")
            if self.rescan_via_file:
                from ..functions.matcher import FileSurfaceIndexHandle

                path = f"{self.warehouse}/_registry/changed-{sid}"
                changed.select(
                    "surface",
                    F.lit("").alias("person"),
                    F.lit("probe").alias("kind"),
                ).write.mode("overwrite").parquet(path)
                if not self.spark.read.parquet(path).limit(1).count():
                    return delta_convs
                probe_index = FileSurfaceIndexHandle(path)
            else:
                from ..functions.matcher import SurfaceIndexHandle

                rows = [(r["surface"], "", "probe") for r in changed.collect()]
                if not rows:
                    return delta_convs
                probe_index = SurfaceIndexHandle(self.spark, rows)
            probe_turns = full_view(store, "stage0_turns", base)
            if rescan == "indexed" and chain_has(store, "turn_grams", base):
                # candidate conversations from the gram posting index —
                # the probe then verifies candidates ONLY, so detection
                # reads O(postings + candidate turns), not O(history).
                # The index yields a superset (operators/postings.py), so
                # the output is identical to the full scan. Stopped grams
                # (the max-df cap) are unusable, not absent: a surface
                # whose EVERY gram is stopped keeps the full probe scan —
                # the exactness escape hatch of the stop-gram design.
                stops = full_view_stops(store, base)
                query_grams = postings.surface_query_grams(changed)
                qg = postings.apply_stops(query_grams, stops)
                all_stopped = bool(
                    postings.unprunable_surfaces(query_grams, stops)
                    .limit(1)
                    .count()
                )
                if not all_stopped:
                    spec_g = store.bucketing_spec("turn_grams", base)
                    if spec_g and spec_g.get("keys") == ["gram"]:
                        ng = spec_g["num_buckets"]
                        gb = self._touched_ids(qg, "gram", ng)
                        rows_g = full_view_buckets(
                            store, "turn_grams", base, "gram", ng, gb
                        )
                    else:
                        rows_g = full_view(store, "turn_grams", base)
                    cand = postings.candidate_convs(rows_g, qg).persist()
                    cow_cache.append(cand)
                    probe_turns = self._turns_for(cand)
            affected = _changed_surface_convs(probe_turns, probe_index)
            return affected.unionByName(delta_convs).distinct()

        excluded = _materialize(
            "excluded_convs", _excluded, {"stage0_turns": sid}
        )

        # ---- stage 2 over delta + rescanned history ----------------
        # replaced is genuinely delta-sized, but excluded (the probe side)
        # is affected-conv-sized — leave the planner/AQE to size both
        rescanned = excluded.join(replaced, "conv_id", "left_anti")
        # an empty rescan set (a fresh rescan="none" run commits
        # excluded_convs == replaced, so the anti-join is empty; common
        # under "exact" when the delta registers no changed surfaces)
        # would still force three full history reads through the unions
        # below — gate them on one cheap probe of the committed table.
        # Gate on the COMMITTED content, never on this run's rescan
        # argument: a crashed rescan="exact" attempt retried under
        # rescan="none" resumes the committed affected-conv excluded set,
        # and skipping the rescan then would anti-join those
        # conversations out of the full view without replacement rows —
        # silently deleting their stage-2 history.
        any_rescan = bool(rescanned.limit(1).count())
        if any_rescan:
            # file-pruned to the rescanned conversations' buckets when the
            # base chain carries the conv_id layout — the rescan re-read
            # is O(rescanned), not a second O(history) pass
            # rescanned is affected-conv-sized (a hot changed surface can
            # touch O(history) conversations) — no broadcast hint; AQE
            # broadcasts these semijoins only when the set actually fits
            base_turns_re = self._turns_for(rescanned)
            base_meta_re = full_view(store, "stage0_meta", base).join(
                rescanned, "conv_id", "leftsemi"
            )
            base_aliases_re = full_view(store, "stage1_aliases", base).join(
                rescanned, "conv_id", "leftsemi"
            )
            s2_turns = d_turns.unionByName(
                base_turns_re, allowMissingColumns=True
            ).select(*d_turns.columns)
            s2_meta = d_meta.unionByName(
                base_meta_re, allowMissingColumns=True
            ).select(*d_meta.columns)
            s2_aliases = d_aliases.unionByName(base_aliases_re)
        else:
            s2_turns, s2_meta, s2_aliases = d_turns, d_meta, d_aliases

        index = scan.build_surface_index(merged_surfaces)
        # the rescan union destroys the delta's bucket distribution, so the
        # Exchange-free path applies only on the no-rescan (ingestion) shape
        fused = stage2.fused_scan_extract(
            s2_turns, s2_meta, index,
            pre_partitioned=d_turns_bucketed and not any_rescan,
            partitioner=self.group_partitioner,
            lexicons=self.lexicons,
        ).persist()
        cow_cache.append(fused)
        g2 = _group(
            (
                "stage2_mentions",
                lambda: stage2.mention_rows(fused),
                {"stage0_turns": sid, "stage1_people": sid},
            ),
            (
                "stage2_triples",
                lambda: stage2.all_triples_fused(fused, s2_aliases, s2_meta),
                {"stage0_turns": sid, "stage1_people": sid},
            ),
            (
                "stage2_timeline",
                lambda: stage2.timeline_rows(fused),
                {"stage0_turns": sid},
            ),
            (
                "cooccurrence",
                lambda: stage2.cooc_scores(fused),
                {"stage2_mentions": sid},
            ),
        )
        d_mentions, d_triples, d_timeline, cooc = (
            g2["stage2_mentions"],
            g2["stage2_triples"],
            g2["stage2_timeline"],
            g2["cooccurrence"],
        )

        # ---- stage 3: incremental connected components -------------
        def _prior_labels() -> DataFrame:
            if store.is_committed("cc_labels", base):
                return store.read("cc_labels", base)
            return canonicalize.connected_components(
                canonicalize.alias_edges(base_alias_reg)
            )

        def _labels() -> DataFrame:
            # every edge not in the base graph comes from the delta's alias
            # tuples, and re-presenting an edge the prior labels already
            # reflect is a CC no-op (both endpoints contract to the same
            # label) — so the DELTA edge set alone is sufficient and the
            # O(vocabulary) exceptAll against the base edge set is skipped
            new_edges = canonicalize.alias_edges(d_aliases)
            return canonicalize.incremental_components(_prior_labels(), new_edges)

        # mini/new_vertices of THIS run's label contraction — shared by
        # the cc_members index commit; empty when cc_labels was resumed
        # or fell back (the index then rebuilds full from labels@sid)
        label_state: dict = {}

        if cow_n:

            def _labels_cow():
                # CoW needs the base labels as hardlink parent AND
                # file-pruned reads on BOTH access paths: by vertex
                # (cc_labels) for the edge-endpoint mapping, by component
                # (cc_members) for the merged-component member set — a
                # derived bootstrap has neither
                if not store.is_committed("cc_labels", base) or not store.is_committed(
                    "cc_members", base
                ):
                    return None
                edges = canonicalize.alias_edges(d_aliases).persist()
                cow_cache.append(edges)
                endpoints = edges.select(F.col("src").alias("vertex")).unionByName(
                    edges.select(F.col("dst").alias("vertex"))
                )
                eb = self._touched_ids(endpoints, "vertex", cow_n)
                # a bucket holds EVERY row whose key hashes to it, so the
                # pruned read answers each endpoint lookup exactly as the
                # full table would — no O(vocabulary) prior scan
                mini, new_vertices = canonicalize.incremental_relabel(
                    store.read_buckets("cc_labels", base, eb), edges
                )
                mini, new_vertices = mini.persist(), new_vertices.persist()
                cow_cache.extend([mini, new_vertices])
                label_state.update(mini=mini, new_vertices=new_vertices)
                # a prior vertex's label changes iff its component merged
                # (appears in mini under a different label); its members
                # come from the component-keyed index — O(delta) buckets
                # read, never a vocabulary scan
                merged = mini.filter(F.col("vertex") != F.col("component")).select(
                    F.col("vertex").alias("component")
                )
                mb = self._touched_ids(merged, "component", cow_n)
                changed = (
                    store.read_buckets("cc_members", base, mb)
                    .join(F.broadcast(merged), "component", "leftsemi")
                    .select("vertex")
                    .unionByName(new_vertices.select("vertex"))
                )
                t = self._touched_ids(changed, "vertex", cow_n)
                # same relabel rule as the full path — shared helper, so the
                # CoW-committed labels cannot diverge from incremental_components
                rows = canonicalize.relabel_prior(
                    store.read_buckets("cc_labels", base, t), mini
                ).unionByName(new_vertices)
                return t, rows

            def _members_cow():
                mini = label_state.get("mini")
                if mini is None:
                    return None
                new_vertices = label_state["new_vertices"]
                # touched member buckets: components on either side of the
                # non-identity contraction map (rows leave the old label's
                # bucket and land in the new label's) plus the new
                # vertices' labels; identity-mapped components move nothing
                moved = mini.filter(F.col("vertex") != F.col("component"))
                comps = (
                    moved.select(F.col("vertex").alias("component"))
                    .unionByName(moved.select("component"))
                    .unionByName(new_vertices.select("component"))
                )
                tm = self._touched_ids(comps, "component", cow_n)
                # relabel_prior works unchanged here: it rewrites the
                # `component` column and carries `vertex` through — exactly
                # the member-row move between buckets
                rows = canonicalize.relabel_prior(
                    store.read_buckets("cc_members", base, tm), mini
                ).select("component", "vertex").unionByName(
                    new_vertices.select("component", "vertex")
                )
                return tm, rows

            def _entities_cow():
                tb, tl = _committed_touched("registry_bits"), _committed_touched("cc_labels")
                if (
                    tb is None
                    or tl is None
                    or not all(_readable(x) for x in ("stage1_people", "cc_labels"))
                ):
                    return None
                t = sorted(set(tb) | set(tl))
                # entity rows are per-name joins on the bucket key: inputs
                # restricted to the same bucket ids are complete per key
                return t, canonicalize.entity_table_from_labels(
                    store.read_buckets("stage1_people", sid, t),
                    store.read_buckets("cc_labels", sid, t),
                )

            def _nodes_cow():
                ts = [
                    _committed_touched(x)
                    for x in ("registry_bits", "stage1_alias_registry", "cc_labels")
                ]
                readable = all(
                    _readable(x)
                    for x in ("stage1_people", "stage1_alias_registry", "stage3_entities")
                )
                if any(x is None for x in ts) or not readable:
                    return None
                t = sorted(set(ts[0]) | set(ts[1]) | set(ts[2]))
                return t, graph.nodes_table(
                    store.read_buckets("stage1_people", sid, t),
                    store.read_buckets("stage1_alias_registry", sid, t),
                    store.read_buckets("stage3_entities", sid, t),
                )

            cow_builders.update(
                cc_labels=_labels_cow,
                cc_members=_members_cow,
                stage3_entities=_entities_cow,
                nodes=_nodes_cow,
            )

        labels = _materialize(
            "cc_labels", _labels, {"stage1_alias_registry": sid}
        )
        # the member index and the entity table both depend only on the
        # committed labels and not on each other — one concurrent level
        g3 = _group(
            (
                "cc_members",
                lambda: labels.select("component", "vertex"),
                {"cc_labels": sid},
            ),
            (
                "stage3_entities",
                lambda: canonicalize.entity_table_from_labels(people, labels),
                {"cc_labels": sid, "stage1_people": sid},
            ),
        )
        entities = g3["stage3_entities"]

        # ---- stage 4 ----------------------------------------------
        g4 = _group(
            (
                "nodes",
                lambda: graph.nodes_table(people, alias_reg, entities),
                {"stage3_entities": sid},
            ),
            ("edges", lambda: d_triples, {"stage2_triples": sid}),
            (
                "timeline",
                lambda: graph.timeline_final(d_timeline),
                {"stage2_timeline": sid},
            ),
        )
        nodes, edges, timeline = g4["nodes"], g4["edges"], g4["timeline"]
        # run()'s finally unpersists everything registered in cow_cache

        # the parent pointer is the snapshot's COMMIT POINT, written only
        # after every table landed: a run that crashes mid-way leaves
        # committed-but-unchained table levels (resumable under the SAME
        # snapshot_id via _materialize's is_committed skip) and NO meta —
        # so a retry under a NEW snapshot_id cannot trip
        # streaming.ingest.latest_snapshot's branched-chain guard on a
        # half-built orphan. The full_view calls below are the first
        # readers that need the pointer.
        self._write_meta(rescan)

        return PipelineResult(
            tables={
                "turns": full_view(store, "stage0_turns", sid),
                "meta": full_view(store, "stage0_meta", sid),
                "people": people,
                "aliases": alias_reg,
                "mentions": full_view(store, "stage2_mentions", sid),
                "triples": full_view(store, "stage2_triples", sid),
                "entities": entities,
                "nodes": nodes,
                "edges": full_view(store, "edges", sid),
                "cooccurrence": full_view(store, "cooccurrence", sid),
                "timeline": full_view(store, "timeline", sid),
            },
            executed_stages=executed,
            skipped_stages=skipped,
        )
