"""Stage 3 — entity canonicalization via connected components (J7).

The reference resolves aliases one hop only (alias tuples attached to a
single Name, NER.py:556-561). The north rule upgrades this to connected
components over the mention-alias graph: vertices are canonical names and
alias surfaces; an edge links a name to each of its surfaces; names that
share a surface land in one component.

Algorithm: iterative min-label propagation WITH pointer doubling — per
iteration one shuffle hash join (labels ⋈ edges) + one hash aggregate +
one label-shortcut join (label(v) := min(label(v), label(label(v)))).
The shortcut halves remaining path lengths every iteration, so
convergence is O(log diameter) instead of O(diameter): plain one-hop
propagation silently mislabeled chain graphs longer than max_iter (a
60-hop path returned 35 wrong labels — caught by review, pinned in
tests). If max_iter is still exhausted while labels are changing the
operator RAISES instead of returning wrong components. Skew: hub
surfaces (an alias shared by thousands of names) blow up the join's
build side for that key — AQE skew-join splits it, and `salt`
pre-splits hub keys explicitly (two-phase min). Each iteration
localCheckpoints to truncate lineage (SURVEY §4 item 3).

Label domain: strings (lexicographic min) — component id = lexicographically
smallest member, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812


def _local_components(sym_rows, spark, schema) -> DataFrame:
    """Driver-side union-find over a collected (small) edge list, labels =
    min member. Python code-point string order == Spark's binary UTF-8
    order, so labels match the distributed path exactly."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in sym_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the final label is the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(v, find(v)) for v in parent]
    return spark.createDataFrame(rows, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    salt: int = 0,
    partitions: int | None = None,
    local_threshold: int = 500_000,
) -> DataFrame:
    """→ (vertex, component). ``edges`` is undirected input (one row per
    edge, either orientation).

    ``local_threshold``: distinct-symmetric-edge count at or below which
    the components are computed by a driver-side union-find over the
    collected edge list instead of the iterative join loop — the same
    physical-strategy decision as a broadcast-join threshold (a ≤500k-edge
    list is a few MB; the loop costs ~10 shuffle-stage round-trips of
    latency that dwarf the work at that size). Labels are identical on
    both paths (component = minimum member, pinned by a parity test); at
    corpus scale the edge count exceeds the threshold and the distributed
    loop runs. 0 disables the local path."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # Iteration parallelism scales with the edge-set size (input partition
    # count is the data-size proxy — no extra job), floored at 4 so tiny
    # alias graphs don't pay 64-task scheduling latency per iteration and
    # capped at the session's shuffle parallelism. A 10^12-turn entity
    # graph arrives in many input partitions and keeps them; callers with
    # better knowledge pass ``partitions`` explicitly. Checkpoints are
    # lazy — they materialize inside the next iteration's `changed` count
    # instead of as their own job (halves the serial job chain of the loop).
    if partitions is None:
        shuffle_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "16"))
        partitions = max(4, min(shuffle_parts, edges.rdd.getNumPartitions()))
    e = e.repartition(partitions, "src")
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    sym = sym.localCheckpoint(eager=False)

    if local_threshold > 0:
        # bounded COUNT probe first: on a corpus-scale graph the gate must
        # not ship threshold-many Rows to the driver just to discard them
        # (500k two-string Rows is hundreds of MB of driver heap, not "a
        # few"); edges only transfer once the graph is known to fit
        n_probe = sym.limit(local_threshold + 1).count()
        if n_probe <= local_threshold:
            head = sym.collect()
            from pyspark.sql.types import StructField, StructType

            vt = sym.schema["src"].dataType
            schema = StructType(
                [StructField("vertex", vt), StructField("component", vt)]
            )
            return _local_components(
                [(r["src"], r["dst"]) for r in head], edges.sparkSession, schema
            )

    labels = (
        sym.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint(eager=False)
    )

    comp_type = labels.schema["component"].dataType
    converged = False
    for it in range(max_iter):
        if salt > 1:
            # two-phase min for hub vertices: salt the neighbor-label stream,
            # take per-(vertex, salt) partial mins, then the final min.
            prop = (
                sym.join(labels, sym.src == labels.vertex, "inner")
                .select(F.col("dst").alias("vertex"), "component")
                .withColumn("s", F.pmod(F.hash("component"), F.lit(salt)))
                .groupBy("vertex", "s")
                .agg(F.min("component").alias("component"))
                .drop("s")
            )
        else:
            prop = sym.join(labels, sym.src == labels.vertex, "inner").select(
                F.col("dst").alias("vertex"), "component"
            )
        # Carry each vertex's PREVIOUS label (_old) through the step so the
        # convergence check folds into the same aggregation/job that
        # materializes the new labels — no separate join+limit(1).count()
        # job per iteration (each vertex has exactly one labels row, so
        # min(_old) ignoring the prop-side nulls recovers it exactly).
        stepped = (
            labels.select("vertex", "component", F.col("component").alias("_old"))
            .unionByName(prop.withColumn("_old", F.lit(None).cast(comp_type)))
            .groupBy("vertex")
            .agg(F.min("component").alias("component"), F.min("_old").alias("_old"))
        )
        # pointer doubling: label(v) := min(label(v), label(label(v))).
        # Every component label is itself a vertex id present in the label
        # table, so the self-join resolves one indirection — remaining
        # chain lengths halve each iteration.
        lut = stepped.select(
            F.col("vertex").alias("_lv"), F.col("component").alias("_lc")
        )
        new_labels = (
            stepped.join(lut, stepped.component == lut._lv, "left")
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce(F.col("_lc"), F.col("component"))
                ).alias("component"),
                "_old",
            )
            .localCheckpoint(eager=False)
        )
        if it == 0:
            # first propagation always changes something on any non-trivial
            # graph — skip one convergence-check job
            labels = new_labels.select("vertex", "component")
            continue
        # ONE action: materializes the lazy checkpoint AND returns the
        # changed-label count from the same scan.
        changed = new_labels.agg(
            F.coalesce(
                F.sum((F.col("component") != F.col("_old")).cast("int")), F.lit(0)
            ).alias("n")
        ).first()["n"]
        labels = new_labels.select("vertex", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations — raise max_iter (pointer doubling makes each "
            "iteration halve remaining chain lengths, so this graph's "
            f"diameter exceeds ~2^{max_iter})"
        )
    return labels


def alias_edges(aliases: DataFrame) -> DataFrame:
    """Mention-alias graph edges: (name ↔ alias surface). Packed
    親屬關係暫存 pseudo-aliases are excluded — they encode relations, not
    surface identity (NER.py:172)."""
    from ..functions.extraction import KIN_TEMP_TYPE

    return (
        aliases.filter(
            (F.col("alias_type") != KIN_TEMP_TYPE)
            & F.col("alias").isNotNull()
            & (F.col("alias") != "")
        )
        .select(F.col("name").alias("src"), F.col("alias").alias("dst"))
        .distinct()
    )


def entity_table_from_labels(people: DataFrame, labels: DataFrame) -> DataFrame:
    """→ (name, entity_id): canonical names mapped to their CC component
    (``labels``: (vertex, component), from ``connected_components`` or the
    incremental path's maintained labels); singleton names (no aliases)
    map to themselves."""
    return people.join(labels, people.name == labels.vertex, "left").select(
        "name",
        F.coalesce(F.col("component"), F.col("name")).alias("entity_id"),
    )


def incremental_components(
    prior_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components after EDGE ADDITIONS, without re-running CC
    over the full graph — the 10^12-turn maintenance path (components only
    merge under edge additions in an append-only corpus, never split).

    Contraction argument: every prior component is represented by its
    label (= lexicographically smallest member, itself a vertex). Map each
    new edge's endpoints through ``prior_labels`` (unseen vertices map to
    themselves), then run CC over the mapped edge set ONLY — a graph of
    O(|new_edges|) vertices (old component labels + brand-new vertices).
    The mini-CC's min over {old labels, new vertices} equals the global
    min of the merged component because each old label is already the min
    of its old component. Untouched components keep their labels.

    Cost: two broadcast-ish joins of new_edges against prior_labels
    (prior is vocabulary-scale — distinct names/surfaces, not corpus
    rows), a mini-CC over O(new) edges, and ONE broadcast relabel join
    over prior_labels — no shuffle of the prior label table and no
    O(history) CC iteration.

    → (vertex, component) covering all prior vertices plus new ones."""
    mini, new_vertices = incremental_relabel(
        prior_labels, new_edges, src=src, dst=dst, max_iter=max_iter
    )
    return relabel_prior(prior_labels, mini).unionByName(new_vertices)


def relabel_prior(prior_labels: DataFrame, mini: DataFrame) -> DataFrame:
    """Apply a ``mini`` contraction map (old label → new label, O(delta)
    rows) to a prior (vertex, component) table: rows whose component
    merged take the new label, everything else passes through. THE
    relabel rule — both the full incremental CC and the copy-on-write
    label commit go through here, so the semantics cannot diverge. One
    broadcast left join; the prior table never shuffles."""
    relabel = F.broadcast(
        mini.select(F.col("vertex").alias("_mv"), F.col("component").alias("_mc"))
    )
    return (
        prior_labels.join(relabel, prior_labels.component == F.col("_mv"), "left")
        .select(
            "vertex",
            F.coalesce(F.col("_mc"), F.col("component")).alias("component"),
        )
    )


def incremental_relabel(
    prior_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> tuple[DataFrame, DataFrame]:
    """The contraction core of ``incremental_components``, exposed for the
    copy-on-write label commit: ``(mini, new_vertices)`` where ``mini`` is
    the (vertex=old label-or-new vertex, component=new label) map from the
    CC over prior-label-mapped new edges — O(|new_edges|) rows — and
    ``new_vertices`` the (vertex, component) rows for endpoints the prior
    table didn't know. A prior vertex's label changes iff its component
    appears in ``mini`` with vertex != component."""
    e = new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    lab_s = prior_labels.select(
        F.col("vertex").alias("_sv"), F.col("component").alias("_sc")
    )
    lab_d = prior_labels.select(
        F.col("vertex").alias("_dv"), F.col("component").alias("_dc")
    )
    flagged = (
        e.join(lab_s, e.src == lab_s._sv, "left")
        .join(lab_d, e.dst == lab_d._dv, "left")
        .select(
            F.coalesce(F.col("_sc"), F.col("src")).alias("src"),
            F.col("_sc").isNull().alias("src_new"),
            F.coalesce(F.col("_dc"), F.col("dst")).alias("dst"),
            F.col("_dc").isNull().alias("dst_new"),
        )
    )
    mini = connected_components(flagged.select("src", "dst"), max_iter=max_iter)
    # genuinely-new vertices: endpoints the prior label table didn't know
    # (the flagged join already marked them — no membership probe against
    # the vocabulary-scale prior set needed); both sides of this join are
    # O(new).
    nv = (
        flagged.filter("src_new").select(F.col("src").alias("vertex"))
        .unionByName(flagged.filter("dst_new").select(F.col("dst").alias("vertex")))
        .distinct()
    )
    new_vertices = nv.join(mini, "vertex", "inner").select("vertex", "component")
    return mini, new_vertices
