"""The workloads. Each draws its inputs from ``--seed`` with numpy, computes
the reference answers with ``oracle`` before any Spark session exists,
hands the program only the generated frames, and defines one pass: a fixed
list of operations, each an operator call, an action that consumes its
output, and a check against the reference.

Sizes are far below the sf0.1 shapes in ``bench.py`` (a tenth of its
diamonds, a sixtieth of its join corpus, under a third of its documents).
A run must fit five set-ups, a warm-up pass and several timed passes into
well under a minute on four cores; at these sizes Spark's per-job and
Python-worker costs already dominate every operator, so the mix still
weighs the same layers. The seed moves geometry and picks text; it never
changes how much work a pass does."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import oracle

EXTENT = 1000.0
TOTAL_BOUNDS = (0.0, 0.0, EXTENT, EXTENT)


@dataclass
class Op:
    """One operation of a pass. ``name`` is the ``<module.function>`` the
    operation calls, used as its span name. ``rows`` is the input rows it
    consumes (or writes)."""

    name: str
    call: Callable[[], Any]
    action: Callable[[Any], Any] | None
    check: Callable[[Any], str | None]  # None when correct, else why not
    rows: int
    useful_files: int | None = None


def _rect(rng, frac):
    """A viewport covering ``frac`` of the extent at a seeded aspect ratio,
    centred within a tenth of the extent of the extent's centre. Where a
    viewport sits decides how many packed files it touches; keeping it near
    the centre keeps that count, and so the work of a read, about the same
    for every seed."""
    aspect = np.exp(rng.uniform(np.log(0.5), np.log(2.0)))
    area = frac * EXTENT * EXTENT
    w = min(np.sqrt(area * aspect), EXTENT)
    h = min(area / w, EXTENT)
    cx, cy = (0.5 + rng.uniform(-0.1, 0.1, 2)) * EXTENT
    x0 = float(np.clip(cx - w / 2, 0, EXTENT - w))
    y0 = float(np.clip(cy - h / 2, 0, EXTENT - h))
    return (x0, y0, x0 + float(w), y0 + float(h))


def _close(a, b, rtol=1e-9) -> bool:
    return abs(a - b) <= rtol * max(abs(a), abs(b), 1.0)


def _expect(got, want) -> str | None:
    return None if got == want else f"got {got}, expected {want}"


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def _same_pairs(rows, a, b, want) -> str | None:
    got = oracle.pair_keys([r[a] for r in rows], [r[b] for r in rows])
    if len(got) != len(want):
        return f"{len(got)} pairs, expected {len(want)}"
    return None if np.array_equal(got, want) else "pair sets differ"


class Workload:
    name: str
    #: bytes of user data the workload stores (0: it stores nothing)
    input_bytes = 0
    #: set by traced runs: fill ``Op.useful_files`` for viewport reads
    count_files = False

    def setup(self, spark) -> None:
        raise NotImplementedError

    def ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def after_pass(self, pass_no: int, ops: list[Op]) -> None:
        pass

    def stored_bytes(self) -> int:
        return 0


# ------------------------------------------------------------------ ingest
class Ingest(Workload):
    """Each pass writes a fresh Hilbert-packed dataset of holed diamonds,
    appends a seeded batch, compacts it, and reads one seeded viewport (15%
    of the extent) back through the manifest-pruned ``.cx`` read with Arrow
    area/length/bounds aggregates.
    It exercises the pack / hilbert / spatial-parquet write path and the
    pruning, covered-file passthrough and Arrow refine of the read path,
    and never touches the join operators."""

    name = "ingest"

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng([seed, 3])
        self.work = work
        self.batches = []
        start = 0
        for n in (12_000, 4_000):
            ids = np.arange(start, start + n, dtype=np.int64)
            cx, cy = rng.uniform(0, EXTENT, n), rng.uniform(0, EXTENT, n)
            self.batches.append((ids, cx, cy, rng.uniform(0.5, 4.0, n)))
            start += n
        self.total = start
        self.cx, self.cy, self.r = (np.concatenate([b[i] for b in self.batches]) for i in (1, 2, 3))
        # id plus a two-ring, ten-vertex polygon of float64 coordinates
        self.input_bytes = self.total * (8 + 20 * 8)
        self.rects = [_rect(rng, 0.15)]
        self.expected = [self._expect(r) for r in self.rects]
        self.last_stored = 0

    def _mask(self, rect):
        return oracle.holed_diamonds_hit_rect(self.cx, self.cy, self.r, rect)

    def _expect(self, rect):
        m = self._mask(rect)
        r = self.r[m]
        # area 2r^2 - 2(r/2)^2; perimeter 4*sqrt(2)*(r + r/2); width 2r
        return (int(m.sum()), float((1.5 * r * r).sum()),
                float((6 * np.sqrt(2) * r).sum()), float((2 * r).sum()))

    def setup(self, spark) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from spatialpandas_spark import with_bounds

        def frame(ids, cx, cy, r):
            g = spark.createDataFrame(pd.DataFrame({"id": ids, "cx": cx, "cy": cy, "r": r}))
            x, y, r, h = F.col("cx"), F.col("cy"), F.col("r"), F.col("r") / 2
            shell = F.array(x + r, y, x, y + r, x - r, y, x, y - r, x + r, y)
            hole = F.array(x + h, y, x, y - h, x - h, y, x, y + h, x + h, y)
            return with_bounds(g.select("id", F.array(shell, hole).alias("geom")), "geom", "polygon")

        self.spark = spark
        self.frames = [frame(*b) for b in self.batches]

    def _path(self, pass_no: int) -> str:
        return os.path.join(self.work, f"pass{pass_no}")

    def _on_disk(self, path, rows_expected, max_files=None):
        def check(manifest):
            import pyarrow.parquet as pq

            files = _parquet_files(path)
            rows = sum(pq.read_metadata(f).num_rows for f in files)
            if rows != rows_expected:
                return f"{rows} rows on disk, expected {rows_expected}"
            if manifest is None or len(manifest) != len(files):
                return f"manifest lists {0 if manifest is None else len(manifest)} of {len(files)} files"
            if max_files is not None and len(files) > max_files:
                return f"{len(files)} files after compaction, expected <= {max_files}"
            return None

        return check

    def _read(self, path, rect, want) -> Op:
        from pyspark.sql import functions as F

        from spatialpandas_spark.functions.arrow_kernels import with_measures
        from spatialpandas_spark.sources.spatial_parquet import read_spatial_parquet_cx

        def call():
            df = read_spatial_parquet_cx(self.spark, path, "geom", "polygon", rect)
            return with_measures(df, "geom", "polygon", area="a", length="l", bounds="b")

        def action(df):
            return tuple(df.agg(F.count("*"), F.sum("a"), F.sum("l"),
                                F.sum(F.col("b.x1") - F.col("b.x0"))).first())

        def check(got):
            if got[0] != want[0]:
                return f"count {got[0]}, expected {want[0]}"
            for g, w in zip(got[1:], want[1:]):
                if not _close(g or 0.0, w, 1e-7):
                    return f"measure sum {g}, expected {w}"
            return None

        return Op("sources.spatial_parquet.read_spatial_parquet_cx", call, action, check, self.total)

    def ops(self, pass_no: int) -> list[Op]:
        from spatialpandas_spark.sources.spatial_parquet import (
            append_spatial_parquet,
            compact_spatial_parquet,
            write_spatial_parquet,
        )

        path, spark = self._path(pass_no), self.spark
        n0, n1 = (len(b[0]) for b in self.batches)
        pack = dict(p=10, total_bounds=TOTAL_BOUNDS)
        return [
            Op(
                "sources.spatial_parquet.write_spatial_parquet",
                lambda: write_spatial_parquet(self.frames[0], path, npartitions=8, **pack),
                None, self._on_disk(path, n0), n0,
            ),
            Op(
                "sources.spatial_parquet.append_spatial_parquet",
                lambda: append_spatial_parquet(self.frames[1], path, npartitions=4, **pack),
                None, self._on_disk(path, self.total), n1,
            ),
            Op(
                "sources.spatial_parquet.compact_spatial_parquet",
                lambda: compact_spatial_parquet(spark, path, npartitions=8, **pack),
                None, self._on_disk(path, self.total, 8), self.total,
            ),
        ] + [self._read(path, r, w) for r, w in zip(self.rects, self.expected)]

    def after_pass(self, pass_no: int, ops: list[Op]) -> None:
        path = self._path(pass_no)
        if os.path.isdir(path):
            self.last_stored = _dir_bytes(path)
            if self.count_files:
                self._attach_file_counts(path, ops)
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(path + ".compact.tmp", ignore_errors=True)

    def _attach_file_counts(self, path, ops) -> None:
        """Files holding at least one result row, per viewport read."""
        import pyarrow.parquet as pq

        owner = np.empty(self.total, dtype=np.int64)
        for i, f in enumerate(_parquet_files(path)):
            owner[pq.read_table(f, columns=["id"])["id"].to_numpy()] = i
        reads = [op for op in ops if op.action is not None]
        for op, rect in zip(reads, self.rects):
            op.useful_files = len(np.unique(owner[self._mask(rect)]))

    def stored_bytes(self) -> int:
        return self.last_stored


# -------------------------------------------------------------------- join
class Join(Workload):
    """Broadcast and grid ``sjoin``, kNN, nearest and distance joins of
    seeded query points against a point corpus, all from in-memory frames.
    Work sits in the join operators, their sampling and checkpoint jobs
    and the shuffle; the parquet layer and the Arrow measure kernels are
    never touched."""

    name = "join"

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng([seed, 2])
        n, n_small, n_big, n_q = 10_000, 2_500, 25, 500
        self.pid = np.arange(n, dtype=np.int64)
        self.px, self.py = rng.uniform(0, EXTENT, n), rng.uniform(0, EXTENT, n)
        self.sid = np.arange(n_small, dtype=np.int64)
        self.sx, self.sy = rng.uniform(0, EXTENT, n_small), rng.uniform(0, EXTENT, n_small)
        self.sr = rng.uniform(0.5, 3.0, n_small)
        self.bid = np.arange(n_big, dtype=np.int64)
        self.bx, self.by = rng.uniform(100, 900, n_big), rng.uniform(100, 900, n_big)
        self.br = rng.uniform(20.0, 60.0, n_big)
        # plus four queries far outside the corpus: they are never resolved
        # by the first grid round, so every seed takes the kNN residual
        # brute-force path, and sjoin_nearest returns them unmatched
        far = np.array([-400.0, -300.0, -200.0, -100.0])
        self.qid = np.arange(n_q + len(far), dtype=np.int64) + 10_000_000
        self.qx = np.concatenate([rng.uniform(0, EXTENT, n_q), far])
        self.qy = np.concatenate([rng.uniform(0, EXTENT, n_q), far])
        self.k, self.max_distance, self.radius, self.cell = 5, 6.0, 3.0, 10.0
        self.want_big = oracle.points_in_diamonds(
            self.px, self.py, self.pid, self.bx, self.by, self.br, self.bid, 60.0
        )
        self.want_small = oracle.points_in_diamonds(
            self.px, self.py, self.pid, self.sx, self.sy, self.sr, self.sid, 3.0
        )
        self.want_dwithin = oracle.pairs_within(
            self.qx, self.qy, self.qid, self.px, self.py, self.pid, self.radius
        )
        # kNN and nearest have no cheap full oracle: brute force on a
        # seeded subsample of the queries
        sample = np.concatenate([rng.choice(n_q, size=100, replace=False), n_q + np.arange(len(far))])
        idx, d2 = oracle.knn_brute(self.qx[sample], self.qy[sample], self.px, self.py, self.k)
        self.knn_sample = {
            int(self.qid[s]): (set(self.pid[idx[i]].tolist()), d2[i]) for i, s in enumerate(sample)
        }

    def setup(self, spark) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from spatialpandas_spark import st_make_diamond, st_point, with_bounds

        def points(ids, x, y, id_col):
            df = spark.createDataFrame(pd.DataFrame({id_col: ids, "x": x, "y": y}))
            return df.select(id_col, st_point(F.col("x"), F.col("y")).alias("geom"))

        def diamonds(ids, x, y, r):
            df = spark.createDataFrame(pd.DataFrame({"did": ids, "x": x, "y": y, "r": r}))
            poly = st_make_diamond(F.col("x"), F.col("y"), F.col("r")).alias("poly")
            return with_bounds(df.select("did", poly), "poly", "polygon")

        self.points = points(self.pid, self.px, self.py, "id")
        self.corpus = with_bounds(self.points, "geom", "point")
        self.small = diamonds(self.sid, self.sx, self.sy, self.sr)
        self.big = diamonds(self.bid, self.bx, self.by, self.br)
        self.queries = points(self.qid, self.qx, self.qy, "qid")

    def _check_knn(self, rows) -> str | None:
        if len(rows) != len(self.qid) * self.k:
            return f"{len(rows)} knn rows, expected {len(self.qid) * self.k}"
        got: dict[int, list] = {}
        for r in rows:
            if r["qid"] in self.knn_sample:
                got.setdefault(r["qid"], []).append((r["rank"], r["id"], r["dist2"]))
        for q, (ids, d2) in self.knn_sample.items():
            nb = sorted(got.get(q, []))
            if {i for _, i, _ in nb} != ids or not np.allclose([d for *_, d in nb], d2, rtol=1e-12):
                return f"knn neighbours of query {q} differ"
        return None

    def _check_nearest(self, rows) -> str | None:
        if len(rows) != len(self.qid):
            return f"{len(rows)} nearest rows, expected {len(self.qid)}"
        for r in rows:
            want = self.knn_sample.get(r["qid"])
            if want is None:
                continue
            d = float(np.sqrt(want[1][0]))
            if d > self.max_distance:
                if r["id"] is not None:
                    return f"query {r['qid']} matched beyond max_distance"
            elif r["id"] is None or not _close(r["dist"], d, 1e-12):
                return f"nearest of query {r['qid']} differs"
        return None

    def ops(self, pass_no: int) -> list[Op]:
        from spatialpandas_spark import sjoin
        from spatialpandas_spark.operators.knn import sjoin_dwithin, sjoin_knn, sjoin_nearest

        corpus, pts, qs = self.corpus, self.points, self.queries
        n, nq = len(self.pid), len(self.qid)
        kw = dict(left_geom="geom", right_geom="poly", left_type="point", right_type="polygon")

        def pairs(a, b, want):
            return lambda rows: _same_pairs(rows, a, b, want)

        return [
            Op(
                "operators.sjoin.sjoin-broadcast",
                lambda: sjoin(corpus, self.big, strategy="broadcast", **kw),
                lambda df: df.select("id", "did").collect(),
                pairs("id", "did", self.want_big),
                n,
            ),
            Op(
                "operators.sjoin.sjoin-grid",
                lambda: sjoin(corpus, self.small, strategy="grid", cell_size=self.cell, **kw),
                lambda df: df.select("id", "did").collect(),
                pairs("id", "did", self.want_small),
                n + len(self.sid),
            ),
            Op(
                "operators.knn.sjoin_knn",
                lambda: sjoin_knn(qs, pts, k=self.k, left_id="qid", right_id="id"),
                lambda df: df.collect(),
                self._check_knn,
                n + nq,
            ),
            Op(
                "operators.knn.sjoin_nearest",
                lambda: sjoin_nearest(qs, pts, max_distance=self.max_distance, how="left",
                                      left_id="qid", right_id="id"),
                lambda df: df.select("qid", "id", "dist").collect(),
                self._check_nearest,
                n + nq,
            ),
            Op(
                "operators.knn.sjoin_dwithin",
                lambda: sjoin_dwithin(qs, pts, self.radius, left_id="qid", right_id="id"),
                lambda df: df.select("qid", "id").collect(),
                pairs("qid", "id", self.want_dwithin),
                n + nq,
            ),
        ]


# ------------------------------------------------------------------ curate
class Curate(Workload):
    """Near-duplicate clustering, corpus overlap, duplicate-span removal and
    BPE encoding over a seeded 1000-document table with planted
    near-duplicate groups and shared boilerplate headers. Exercises the
    dedup / graph / sketch / spans / bpe operators and the checkpoint loops
    of the connected-components driver; no geometry."""

    name = "curate"

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng([seed, 4])
        n_docs, n_vocab = 1_000, 3_000
        vocab: set[str] = set()
        while len(vocab) < n_vocab:
            vocab.add("".join(chr(c) for c in rng.integers(97, 123, int(rng.integers(2, 9)))))
        vocab = sorted(vocab)
        p = 1.0 / np.arange(1, n_vocab + 1) ** 1.1
        p /= p.sum()
        headers = [[str(w) for w in rng.choice(vocab, 16)] for _ in range(20)]
        n_copies = n_docs // 10
        docs, group_of = [], []
        for i in range(n_docs - n_copies):
            words = [str(w) for w in rng.choice(vocab, int(rng.integers(80, 160)), p=p)]
            if rng.random() < 0.3:
                words = headers[int(rng.integers(len(headers)))] + words
            docs.append(words)
            group_of.append(i)
        # a near-duplicate is an original with two words replaced: its
        # 3-shingle Jaccard to the original stays above ~0.85, so MinHash
        # LSH at threshold 0.5 finds it with probability 1 - 1e-5
        for _ in range(n_copies):
            src = int(rng.integers(n_docs - n_copies))
            words = list(docs[src])
            for pos in rng.choice(len(words), 2, replace=False):
                words[pos] = vocab[int(rng.integers(n_vocab))]
            docs.append(words)
            group_of.append(src)
        ids = rng.permutation(n_docs).astype(np.int64)
        self.ids, self.words = ids, docs
        self.texts = [" ".join(w) for w in docs]
        first: dict[int, int] = {}
        for i, g in enumerate(group_of):
            first[g] = min(first.get(g, int(ids[i])), int(ids[i]))
        self.want_cluster = {int(ids[i]): first[g] for i, g in enumerate(group_of)}

        sa = set().union(*(oracle.shingles(w, 5) for i, w in zip(ids, docs) if i % 2 == 0))
        sb = set().union(*(oracle.shingles(w, 5) for i, w in zip(ids, docs) if i % 2 == 1))
        self.want_jaccard = len(sa & sb) / len(sa | sb)
        self.overlap_k = 512
        spans = oracle.span_removal(docs, 8, 2)
        self.want_spans = (sum(k for k, _ in spans), sum(oracle.crc32(t) for _, t in spans))
        # the merge list is an input: trained on the 400 most frequent words
        counts: dict[str, int] = {}
        for words in docs:
            for w in words:
                counts[w] = counts.get(w, 0) + 1
        top = dict(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:400])
        self.merges = oracle.bpe_train(top, 200)
        cache: dict[str, list[str]] = {}
        n = crc = 0
        for words in docs:
            toks = []
            for w in words:
                if w not in cache:
                    cache[w] = oracle.bpe_segment(w, self.merges)
                toks.extend(cache[w])
            n += len(toks)
            crc += oracle.crc32(" ".join(toks))
        self.want_bpe = (n, crc)

    def setup(self, spark) -> None:
        import pandas as pd

        self.docs = spark.createDataFrame(pd.DataFrame({"doc_id": self.ids, "text": self.texts}))

    def _check_clusters(self, rows) -> str | None:
        got = {r["doc_id"]: r["cluster_id"] for r in rows}
        if len(rows) != len(self.want_cluster) or got != self.want_cluster:
            bad = sum(got.get(k) != v for k, v in self.want_cluster.items())
            return f"{bad} of {len(self.want_cluster)} cluster labels differ"
        return None

    def _check_overlap(self, row) -> str | None:
        j, k = self.want_jaccard, self.overlap_k
        tol = 4 * np.sqrt(j * (1 - j) / k) + 0.005
        got = row["jaccard"]
        return None if abs(got - j) <= tol else f"jaccard {got}, exact {j:.4f} (tol {tol:.4f})"

    def ops(self, pass_no: int) -> list[Op]:
        from pyspark.sql import functions as F

        from spatialpandas_spark.operators.bpe import bpe_encode
        from spatialpandas_spark.operators.dedup import near_dup_clusters
        from spatialpandas_spark.operators.sketch import corpus_overlap
        from spatialpandas_spark.operators.spans import remove_duplicate_spans

        docs, n = self.docs, len(self.ids)
        even, odd = docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
        return [
            Op(
                "operators.dedup.near_dup_clusters",
                lambda: near_dup_clusters(docs, threshold=0.5),
                lambda df: df.select("doc_id", "cluster_id").collect(),
                self._check_clusters,
                n,
            ),
            Op(
                "operators.sketch.corpus_overlap",
                lambda: corpus_overlap(even, odd, k=self.overlap_k),
                lambda df: df.first(),
                self._check_overlap,
                n,
            ),
            Op(
                "operators.spans.remove_duplicate_spans",
                lambda: remove_duplicate_spans(docs, window=8, min_count=2, keep="none", align="fixed"),
                lambda df: tuple(df.agg(F.sum("kept_spans"), F.sum(F.crc32("text"))).first()),
                lambda got: _expect(got, self.want_spans),
                n,
            ),
            Op(
                "operators.bpe.bpe_encode",
                lambda: bpe_encode(docs, self.merges),
                lambda df: tuple(
                    df.agg(F.sum("n_tokens"), F.sum(F.crc32(F.array_join("tokens", " ")))).first()
                ),
                lambda got: _expect(got, self.want_bpe),
                n,
            ),
        ]


WORKLOADS = {w.name: w for w in (Ingest, Join, Curate)}
