"""Round-7 sampled-exchange fork audit (the round-6 rank-family bug class).

The bug class: ``repartitionByRange`` seeds its reservoir sampling PER
EXECUTION, and ``monotonically_increasing_id`` / ``spark_partition_id``
are pure functions of the partition layout. Any lineage that (a) has a
layout-nondeterministic step and (b) is consumed by >= 2 downstream
plans can observe DIFFERENT layouts per consumer whenever exchange reuse
breaks (an optimizer choice — cached inputs and AQE replans defeat it),
silently corrupting anything that correlates the branches.

Audited sites (round 7, full-package grep):

- ``operators/rank.py`` with_rank / with_running_sum — two consumers
  (local ranks + per-partition counts). PINNED round 6 (``materialize``
  at the fork); regression test ``test_shards.py``
  ``test_running_sum_fork_consistency_on_cached_input``.
- ``operators/sjoin.py`` outer grid join — the ``__rowid``-stamped
  preserved side feeds both the inner join and the anti-join recovery.
  PINNED round 7; cached-input twin test below.
- ``operators/pack.py`` partition_bounds — single consumer; reflects one
  execution by design (docstring caveat). The durable manifest is
  rebuilt from written parquet footers, never a forked lineage.
- ``operators/pack.py`` pack_partitions — range exchange, single
  consumer (the caller's one action); layout variance moves partition
  boundaries, not values.
- hash ``repartition(col)`` sites (dedup/dedup_index/similarity_index/
  shards) — hash partitioning is content-deterministic, out of class.
- ``ordering.py`` deterministic_shuffle / sample_hash — content-hash
  order, layout-independent by construction.
- ``operators/contamination.py`` ngram_overlap / ngram_overlap_bloom —
  a per-row ``__row`` marker read by one ``groupBy(id)`` only, as
  ``min != max`` (two rows share the id): the test holds on any
  layout, and no other branch reads the stamps.

The allowlist test makes any NEW layout-dependent call site fail review
until it is either pinned or consciously added here. It also holds the
package to ONE pinning mechanism: ``localCheckpoint`` / ``checkpoint`` /
``persist`` calls may appear only inside ``materialize.py``, so a direct
pin elsewhere fails until it goes through ``materialize``. The gate file
``__spark_entry__.py`` is held to the same rule.
"""

import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

PKG = pathlib.Path(__file__).resolve().parents[1] / "spatialpandas_spark"
ENTRY = PKG.parent / "__spark_entry__.py"
PINS = ("localCheckpoint", "checkpoint", "persist")

# reviewed call sites: relative path -> expected count of each marker
ALLOWED = {
    "repartitionByRange": {
        "operators/rank.py": 2,       # pinned (materialize at fork)
        "operators/pack.py": 1,       # single consumer
    },
    "monotonically_increasing_id": {
        "operators/sjoin.py": 1,      # pinned round 7 (this module's twin)
        "operators/contamination.py": 2,  # shared-id marker, one consumer
    },
    "spark_partition_id": {
        "operators/rank.py": 2,       # downstream of the pinned fork
        "operators/pack.py": 1,       # partition_bounds (documented)
    },
    # one pinning mechanism: every pin goes through materialize()
    "localCheckpoint": {"materialize.py": 1},
    "checkpoint": {"materialize.py": 1},
    "persist": {},
}


def _count_sites(marker: str, paths=None) -> dict:
    got = {}
    for path in paths or sorted(PKG.rglob("*.py")):
        text = path.read_text()
        # strip comments so prose mentions don't count as call sites
        code = "\n".join(ln.split("#", 1)[0] for ln in text.splitlines())
        n = len(re.findall(rf"\b{marker}\s*\(", code))
        if n:
            rel = path.relative_to(PKG.parent if path == ENTRY else PKG)
            got[str(rel)] = n
    return got


@pytest.mark.parametrize("marker", sorted(ALLOWED))
def test_layout_dependent_sites_are_reviewed(marker):
    """Every layout-dependent call site in the package is on the reviewed
    allowlist. A new site must be audited for the fork-point bug class
    (pin it with `materialize`, or prove single-consumer) and then
    added here with a comment. Pins themselves (localCheckpoint,
    checkpoint, persist) are allowed only inside materialize.py."""
    assert _count_sites(marker) == ALLOWED[marker], (
        f"unreviewed {marker} call site — audit for the sampled-exchange "
        "fork bug class (see module docstring) before allowlisting"
    )


def test_gate_file_pins_go_through_materialize():
    """The gate file pins its intermediates with `materialize` too, so a
    checkpoint dir set on the session reaches every pin the gates run."""
    assert {m: _count_sites(m, [ENTRY]) for m in PINS} == {m: {} for m in PINS}


def test_outer_grid_join_fork_consistency_on_cached_range_input(spark):
    """Cached-input twin for the round-7 sjoin pin: the preserved side
    goes through a sampled range exchange AND a cache (the exact shape
    that defeated exchange reuse in round 6), then an outer grid join
    must still produce exactly the broadcast-strategy result — matched
    pairs AND the unmatched-null set (the anti-join recovery is the
    branch that corrupts if the fork ever re-executes)."""
    from spatialpandas_spark import sjoin, st_point

    rng = np.random.default_rng(7)
    pts = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(rng.uniform(-50, 50, (4000, 2)))
    ]
    polys = []
    for g in range(25):
        cx, cy = rng.uniform(-40, 40, 2)
        r = rng.uniform(3, 12)
        ring = []
        for k in range(8):
            a = 2 * np.pi * k / 8
            ring += [float(cx + r * np.cos(a)), float(cy + r * np.sin(a))]
        ring += ring[:2]
        polys.append((g, [ring]))

    left = (
        spark.createDataFrame(pts, "pid long, x double, y double")
        .select("pid", st_point(F.col("x"), F.col("y")).alias("geom"))
        # sampled exchange in the preserved lineage + cache: per-execution
        # reservoir seeding means re-executions may assign different
        # layouts -> different monotonically_increasing_id stamps
        .repartitionByRange(8, "pid")
        .cache()
    )
    left.count()
    right = spark.createDataFrame(polys, "gid long, geom array<array<double>>")

    def pairs_and_nulls(j):
        rows = j.collect()
        return (
            {(r["pid"], r["gid"]) for r in rows if r["gid"] is not None},
            {r["pid"] for r in rows if r["gid"] is None},
        )

    grid = sjoin(
        left, right, left_type="point", right_type="polygon",
        how="left", strategy="grid", cell_size=15.0,
    )
    bcast = sjoin(
        left, right, left_type="point", right_type="polygon",
        how="left", strategy="broadcast",
    )
    try:
        g_pairs, g_nulls = pairs_and_nulls(grid)
        b_pairs, b_nulls = pairs_and_nulls(bcast)
    finally:
        left.unpersist()
    assert g_pairs == b_pairs
    assert g_nulls == b_nulls
    # every input row accounted for exactly once in the null/matched split
    assert g_nulls == {p for p, _, _ in pts} - {p for p, _ in g_pairs}
