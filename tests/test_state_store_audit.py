"""Static scan: the batch-keyed state store (streaming/_state.py) is the
one owner of the streaming loops' replay mechanism.

Three mechanisms make a foreachBatch loop replay-safe: the dynamic
partition overwrite that rewrites a batch's own partition, the read of
the latest earlier ``batch=N`` partition, and the loop starter that
skips empty micro-batches. Each exists once, in ``_state.py``. A new
copy elsewhere fails here until it goes through the store:

- ``partitionOverwriteMode`` anywhere in the package;
- a DataFrame ``.partitionBy(`` write in ``streaming/``;
- a read that filters on the ``batch`` key in ``streaming/``;
- ``.foreachBatch(`` anywhere in the package, except
  ``streaming/dedup.py``'s watermark loop, which appends to its sink
  and keeps no batch-keyed state.

No Spark session: the scan reads source text only.
"""

import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "spatialpandas_spark"

# marker -> (regex, files scanned, allowed relative path -> count)
SITES = {
    "partitionOverwriteMode": (
        r"partitionOverwriteMode",
        "**/*.py",
        {"streaming/_state.py": 1},
    ),
    "partitioned write": (
        r"(?<!Window)\.partitionBy\s*\(",
        "streaming/*.py",
        {"streaming/_state.py": 1},
    ),
    "batch-key filter": (
        r"\bcol\(\s*[\"']batch[\"']",
        "streaming/*.py",
        {},
    ),
    "foreachBatch": (
        r"\.foreachBatch\s*\(",
        "**/*.py",
        {"streaming/_state.py": 1, "streaming/dedup.py": 1},
    ),
}


def _count_sites(pattern: str, glob: str) -> dict:
    got = {}
    for path in sorted(PKG.glob(glob)):
        # strip comments so prose mentions don't count as call sites
        code = "\n".join(
            ln.split("#", 1)[0] for ln in path.read_text().splitlines()
        )
        n = len(re.findall(pattern, code))
        if n:
            got[str(path.relative_to(PKG))] = n
    return got


@pytest.mark.parametrize("marker", sorted(SITES))
def test_state_mechanisms_live_in_the_store(marker):
    pattern, glob, allowed = SITES[marker]
    assert _count_sites(pattern, glob) == allowed, (
        f"{marker} outside streaming/_state.py: route it through "
        "read_state / write_partition / start_loop"
    )
