"""Static scan: the two-phase top-k skeleton (operators/similarity.py)
is the one owner of how a vector top-k runs.

Each mechanism below exists once, in ``similarity.py``; the codec
modules (``pq.py``, ``sq.py``) and the index module
(``similarity_index.py``) supply scoring only. A new copy elsewhere
under ``operators/`` fails here until it goes through the skeleton:

- the bounded query collect of the collect-or-distribute fork
  (``_vector_topk``);
- the lexsort per-query top-n reducer (``_group_topk``);
- the survivor ranking window over ``qid`` (``_rank``);
- the ``rerank`` source resolution (``_rerank_vectors``);
- the cut of the candidates to each query's global top-``n_cand``
  before the exact rerank (``_finish_topk``), the one rerank pool;
- the Arrow probe assignment over the query frame of the distributed
  IVF probe, and the probe-to-bucket map of the collected one
  (``_ivf_code_topk``).

The vector top-k modules also never read a frame's partition count:
a result or a pool sized by it changes with the cluster layout.

No Spark session: the scan reads source text only.
"""

import pathlib
import re

import pytest

OPS = pathlib.Path(__file__).resolve().parents[1] / "spatialpandas_spark" / "operators"

SITES = {
    "bounded query collect": r"limit\(\s*max_collected_queries\s*\+\s*1\s*\)",
    "lexsort reducer": r"np\.lexsort\(\(\s*v\s*,\s*-s\s*,\s*q\s*\)\)",
    "survivor ranking window": r"Window\.partitionBy\(\s*[\"']qid[\"']",
    "rerank resolver": r"rerank\s*!=\s*[\"']stored[\"']",
    "rerank pool cut": r"_rank\(\s*cand\s*,\s*n_cand\s*\)",
    "distributed probe assignment": r"q_sel\.mapInPandas\(",
    "collected bucket scan": r"probes_by_bucket\.setdefault\(",
}


#: the modules whose operators run a vector top-k
VECTOR_TOPK = ("similarity.py", "similarity_index.py", "pq.py", "sq.py")


def _count_sites(pattern: str, names=None) -> dict:
    got = {}
    for path in sorted(OPS.glob("*.py")):
        if names is not None and path.name not in names:
            continue
        # strip comments so prose mentions don't count as call sites
        code = "\n".join(
            ln.split("#", 1)[0] for ln in path.read_text().splitlines()
        )
        n = len(re.findall(pattern, code))
        if n:
            got[path.name] = n
    return got


@pytest.mark.parametrize("marker", sorted(SITES))
def test_topk_mechanism_lives_in_the_skeleton(marker):
    assert _count_sites(SITES[marker]) == {"similarity.py": 1}, (
        f"{marker} outside operators/similarity.py's skeleton: route the "
        "scan through _vector_topk / _scan_topk / _rank / _rerank_vectors "
        "/ _ivf_code_topk"
    )


def test_vector_topk_never_reads_the_partition_count():
    assert _count_sites(r"getNumPartitions\(", VECTOR_TOPK) == {}, (
        "a vector top-k sized by the partition count returns different "
        "rows on different layouts: cut to a global top-n instead"
    )
