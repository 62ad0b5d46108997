"""J1 — the probe dictionary of the mention scan (people registry ⋈
conversation text).

Semantically ``transcripts JOIN registry ON contains(text, surface)`` — a
BroadcastNestedLoopJoin if written in SQL. The scalable physical strategy
(SURVEY.md §4) is an Aho-Corasick automaton over the distributed registry,
walked once per conversation. The walk itself runs inside the fused
stage-2 pass (``stage2.fused_scan_extract``, its 'person' and 'occ' rows);
this module builds the handle that ships the registry to the workers.

Scale notes: two distribution paths for the probe dictionary, identical
scan output (tests/test_scan_paths.py). Default: raw registry rows are
broadcast and each worker builds the automaton once (≈100 B/surface).
Huge registries (≥10^7 surfaces, where the driver collect + broadcast
re-ship is the bottleneck): ``build_surface_index(via_file=...)`` leaves
the registry on parquet and each worker reads + builds locally.
``Pipeline`` picks the path from the committed registry row count
(``plans/pipeline.REGISTRY_VIA_FILE_ROWS``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.matcher import SurfaceIndexHandle


def build_surface_index(surfaces_df: DataFrame, via_file: str | None = None):
    """Build the J1 probe-dictionary handle.

    Default: collect the registry (Arrow toPandas — py4j row collection of
    a 10^5-surface registry costs ~10s of serial driver time; the Arrow
    path is ~30x faster and this sits on the pipeline's critical path) and
    broadcast the raw rows; executors build the automaton once per worker
    (matcher.cached_index).

    ``via_file=<path>``: the huge-registry path (≥10^7 surfaces, where the
    driver collect + broadcast re-ship would be the bottleneck) — write
    the registry to parquet and return a FileSurfaceIndexHandle; each
    worker reads the parquet itself and builds the automaton locally.
    Scan output is identical on both paths (tests/test_scan_paths.py).

    親屬關係暫存-packed pseudo-aliases are kept — the reference probes them
    too (Utilities.py:58-63); they simply never match text."""
    if via_file is not None:
        from ..functions.matcher import FileSurfaceIndexHandle

        surfaces_df.select("surface", "person", "kind").write.mode("overwrite").parquet(
            via_file
        )
        return FileSurfaceIndexHandle(via_file)
    pdf = surfaces_df.toPandas()
    rows = [
        (s, p, k)
        for s, p, k in zip(pdf["surface"], pdf["person"], pdf["kind"])
        if s is not None
    ]
    return SurfaceIndexHandle(surfaces_df.sparkSession, rows)
