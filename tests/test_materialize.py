"""Reliable-checkpoint mode of ``materialize`` (spatialpandas_spark/materialize.py).

Every test and bench session runs without a checkpoint dir, so pins are
local checkpoints. A session with ``sc.setCheckpointDir`` set takes the
reliable path instead. A checkpoint dir cannot be unset on the shared
test session through the public API, so this runs in a subprocess with
its own ``local[2]`` session: the same operators run first in local
mode, then again after ``setCheckpointDir``, and the results must match
exactly. Covered pins: the eager fork pin of ``with_rank``, the eager
per-iteration pins of ``connected_components`` and the lazy pins of
``corpus_overlap`` (``kmv_sketch`` underneath).
"""

import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

_SCRIPT = r"""
import json, pathlib, random, sys
from spatialpandas_spark.session import get_spark
from spatialpandas_spark.operators.graph import connected_components
from spatialpandas_spark.operators.rank import with_rank
from spatialpandas_spark.operators.sketch import corpus_overlap

spark = get_spark(app_name="reliable-materialize", master="local[2]",
                  shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
rng = random.Random(3)

keys = spark.createDataFrame(
    [(i, rng.randrange(50)) for i in range(600)], "id long, key long"
)
# a chain, a star and a cycle plus isolated pairs: several components
# that need more than one contraction round
edges = [(i, i + 1) for i in range(40)]
edges += [(100, j) for j in range(101, 120)]
edges += [(200 + i, 200 + (i + 1) % 15) for i in range(15)]
edges += [(300 + 2 * i, 301 + 2 * i) for i in range(10)]
edges = spark.createDataFrame(edges, "id_a long, id_b long")
words = [f"w{i}" for i in range(400)]
docs_a = spark.createDataFrame(
    [(" ".join(rng.choices(words[:300], k=30)),) for _ in range(80)], "text string"
)
docs_b = spark.createDataFrame(
    [(" ".join(rng.choices(words[100:], k=30)),) for _ in range(80)], "text string"
)


def n_ckpt():
    # reliable checkpoints land in <dir>/<uuid>/rdd-<id>/
    return len(list(pathlib.Path(sys.argv[1]).glob("*/rdd-*")))


def run():
    out = {}
    rank = with_rank(keys, ["key", "id"], npartitions=4)
    out["rank"] = sorted((r["id"], r["rk"]) for r in rank.collect())
    out["n_rank"] = n_ckpt()
    cc = connected_components(edges, driver_threshold=0)
    out["cc"] = sorted((r["node"], r["component"]) for r in cc.collect())
    out["n_cc"] = n_ckpt()
    ov = corpus_overlap(docs_a, docs_b, n=2, k=64)
    out["overlap"] = [sorted(r.asDict().items()) for r in ov.collect()]
    out["n_overlap"] = n_ckpt()
    return out


local = run()
spark.sparkContext.setCheckpointDir(sys.argv[1])
reliable = run()
print(json.dumps({"local": local, "reliable": reliable}))
spark.stop()
"""


def test_reliable_checkpoint_mode_matches_local(tmp_path):
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=str(REPO))
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(ckpt)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    local, reliable = out["local"], out["reliable"]

    assert reliable["rank"] == local["rank"]
    assert sorted(rk for _, rk in local["rank"]) == list(range(1, 601))
    assert reliable["cc"] == local["cc"]
    assert len({c for _, c in local["cc"]}) == 13
    assert reliable["overlap"] == local["overlap"]
    # no checkpoint dir: nothing written; with one, every operator's pins
    # wrote reliable checkpoints under it
    assert local["n_overlap"] == 0
    assert 0 < reliable["n_rank"] < reliable["n_cc"] < reliable["n_overlap"]
    assert any(p.is_file() for p in ckpt.rglob("rdd-*/part-*"))
