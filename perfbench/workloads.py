"""The benchmark's workloads: one repeated operation each, its output
check, and the forced prefixes the traced run uses to split it by layer.

An operation builds an artifact and then serves a few incremental
requests on it; ``Op`` records both timings. The output check runs
outside every timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import corpus
from harness import fresh_dir

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")
EDGE_COLS = ["subj_id", "pred", "obj_id", "doc_id", "offset"]


@dataclass
class Op:
    build_s: float  # wall time to a complete artifact
    latency_s: list[float]  # incremental requests served on it
    rows: int  # rows in the artifact
    out: str  # where the artifact was written
    detail: dict = field(default_factory=dict)


# --- order-independent table digest ----------------------------------------


def _splitmix(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _str_key(s: str) -> int:
    return int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "little")


def table_digest(path: str, columns: list[str]) -> dict:
    """Row count plus the wrapping sum and xor of a 64-bit hash per row.
    Equal for equal multisets of rows, whatever the file layout or order."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(columns=columns)
    h = np.zeros(t.num_rows, dtype=np.uint64)
    for name in columns:
        col = t.column(name).combine_chunks()
        if pa.types.is_integer(col.type):
            v = col.fill_null(-1).to_numpy().astype(np.int64).view(np.uint64)
        else:
            enc = col.fill_null("").dictionary_encode()
            keys = np.array([_str_key(s) for s in enc.dictionary.to_pylist()], dtype=np.uint64)
            v = keys[enc.indices.to_numpy()]
        h = _splitmix(h ^ v)
    with np.errstate(over="ignore"):
        total = int(h.sum(dtype=np.uint64))
    return {
        "rows": t.num_rows,
        "sum": f"{total:016x}",
        "xor": f"{int(np.bitwise_xor.reduce(h)) if len(h) else 0:016x}",
    }


# --- graph: corpus canonicalization, staged checkpoints, resume ------------


class ResumeCorpus:
    """``run_pipeline(canonicalize="corpus", checkpoint_stages=True,
    n_groups=4, replicate=1)`` interrupted after ``k`` = 2 committed edges
    groups, then the same call resumed. ``k`` is fixed, not drawn from the
    seed: another ``k`` changes how much the resume writes, so runs with
    different seeds would measure different work."""

    name = "resume_corpus"
    replicate = 1
    n_groups = 4
    k = 2
    warmups = 1
    scaling_pair = True

    def __init__(self, sf_dir: str, seed: int):
        self.sf_dir = sf_dir
        with open(REFERENCE) as f:
            self.ref = json.load(f)[self.name]
        if (self.ref["replicate"], self.ref["n_groups"]) != (self.replicate, self.n_groups):
            raise ValueError("reference.json was pinned for another input size")

    def _kwargs(self) -> dict:
        return dict(
            canonicalize="corpus",
            replicate=self.replicate,
            checkpoint_stages=True,
            n_groups=self.n_groups,
        )

    def op(self, spark, tag: str, tracer=None) -> Op:
        from kg.materialize import InjectedFailure
        from kg.pipeline import run_pipeline

        out = fresh_dir(f"{self.name}-{tag}")
        t0 = time.perf_counter()
        try:
            run_pipeline(spark, self.sf_dir, out, fail_after_groups=self.k, **self._kwargs())
            interrupted = False
        except InjectedFailure:
            interrupted = True
        t1 = time.perf_counter()
        stats = run_pipeline(spark, self.sf_dir, out, **self._kwargs())
        t2 = time.perf_counter()
        return Op(
            build_s=t2 - t0,
            latency_s=[t2 - t1],
            rows=stats["edges_total"],
            out=out,
            detail={"interrupted": interrupted, "stats": stats},
        )

    def verify(self, op: Op) -> list[tuple[str, str]]:
        """(attempt, error) pairs; the operation is one attempt."""
        from kg.manifest import read_manifest_rows

        stats, ref, errors = op.detail["stats"], self.ref, []
        if not op.detail["interrupted"]:
            errors.append("the interrupted run did not stop at the injected failure")
        if stats["edges_total"] != ref["edges_total"]:
            errors.append(f"edges_total {stats['edges_total']} != {ref['edges_total']}")
        if stats["nodes"] != ref["nodes"]:
            errors.append(f"nodes {stats['nodes']} != {ref['nodes']}")
        digest = table_digest(os.path.join(op.out, "edges"), EDGE_COLS)
        if digest != ref["edges_digest"]:
            errors.append(f"edges digest {digest} != {ref['edges_digest']}")
        # the resume commits only the edges groups the interrupted run left
        resumed = [r for r in read_manifest_rows(op.out) if r["run_id"] == stats["run_id"]]
        edge_commits = sum(r["stage"] == "materialize_edges" for r in resumed)
        stage_commits = sum(r["stage"].startswith("stage_") for r in resumed)
        if edge_commits != self.n_groups - self.k or stage_commits:
            errors.append(
                f"resume committed {edge_commits} edge groups and {stage_commits} "
                f"stage groups; expected {self.n_groups - self.k} and 0"
            )
        return [("build", e) for e in errors]

    def items(self, op: Op | None) -> int:
        return 1

    def cleanup(self, op: Op) -> None:
        shutil.rmtree(op.out, ignore_errors=True)

    def prefixes(self, spark, tracer) -> dict:
        """Force the extraction output, then extraction + linking, to a
        ``noop`` sink; each prefix's wall is timed under its job group."""
        from kg.fused import fused_extract_triples
        from kg.link import empty_alias_dict, link_triples

        triples = fused_extract_triples(spark, self.sf_dir, replicate=self.replicate)
        linked = link_triples(triples, empty_alias_dict(spark))
        walls = {}
        for group, df in (("fused", triples), ("link", linked)):
            with tracer.group(group):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls[group] = time.perf_counter() - t0
        plan = {
            g: df._jdf.queryExecution().executedPlan().toString().count("Exchange")
            for g, df in (("fused", triples), ("link", linked))
        }
        return {"walls": walls, "link_exchanges": plan["link"] - plan["fused"]}


# --- ANN: IVF train + index build, then indexed top-k queries -------------


class AnnIvf:
    """``train_ivf_centroids`` + ``build_ivf_index`` over the 2,000
    embeddings with the package's default dials (8 cells, 2 probed), then
    ``queries`` indexed top-k queries from one client in a closed loop.
    Query vectors come from the seed."""

    name = "ann_ivf"
    queries = 5
    warmups = 1
    # no local[1] run: it would push a traced run on a busy host past
    # three minutes, and the scaling pair is asked of the pipeline only
    scaling_pair = False

    def __init__(self, sf_dir: str, seed: int):
        from kg.ops.simsearch import IVF_CELLS, IVF_PROBE

        self.sf_dir = sf_dir
        self.n_cells, self.n_probe = IVF_CELLS, IVF_PROBE
        self.qvecs = corpus.query_vectors(seed, 4096)
        self.next_q = 0

    def query(self, spark, out: str, qv: list[float]) -> list[tuple]:
        from kg.ops.simsearch import ivf_topk_indexed

        rows = ivf_topk_indexed(spark, out, qv, n_probe=self.n_probe).collect()
        return [(r["vec_id"], r["rank"], r["cos"]) for r in rows]

    def op(self, spark, tag: str, tracer=None) -> Op:
        from kg.ops.simsearch import build_ivf_index, train_ivf_centroids

        out = fresh_dir(f"{self.name}-{tag}")
        group = tracer.group if tracer else lambda _name: nullcontext()
        t0 = time.perf_counter()
        with group("simsearch.train"):
            cents = train_ivf_centroids(spark, self.sf_dir, n_cells=self.n_cells)
        with group("simsearch.index"):
            build_ivf_index(
                spark, self.sf_dir, out, n_cells=self.n_cells, centroids=cents
            )
        build_s = time.perf_counter() - t0
        lat, answers = [], []
        with group("simsearch.query"):
            for _ in range(self.queries):
                qv = self.qvecs[self.next_q % len(self.qvecs)]
                self.next_q += 1
                t = time.perf_counter()
                answers.append((qv, self.query(spark, out, qv)))
                lat.append(time.perf_counter() - t)
        return Op(build_s, lat, corpus.N_VECS, out, {"answers": answers})

    def _index(self, out: str):
        import pyarrow.dataset as ds

        t = ds.dataset(
            os.path.join(out, "vectors"), format="parquet", partitioning="hive"
        ).to_table(columns=["vec_id", "v", "cell"])
        vecs = np.array(t.column("v").to_pylist(), dtype=np.float64)
        with open(os.path.join(out, "centroids.json")) as f:
            cents = sorted((int(c), v) for c, v in json.load(f))
        cell_ids = np.array([c for c, _ in cents])
        cent = np.array([v for _, v in cents], dtype=np.float64)
        return (
            t.column("vec_id").to_numpy(),
            vecs,
            t.column("cell").to_numpy().astype(np.int64),
            cell_ids,
            cent,
        )

    def verify(self, op: Op) -> list[tuple[str, str]]:
        """(attempt, error) pairs: the index build and each query are
        separate attempts."""
        ids, vecs, cells, cell_ids, cent = self._index(op.out)
        errors = []
        if len(cell_ids) != self.n_cells:
            errors.append(f"{len(cell_ids)} centroids, expected {self.n_cells}")
        if sorted(ids.tolist()) != list(range(corpus.N_VECS)):
            errors.append("index does not hold every vector exactly once")
        # every vector sits in a cell whose centroid is its nearest
        dots = vecs @ cent.T
        own = dots[np.arange(len(ids)), np.searchsorted(cell_ids, cells)]
        if np.any(own < dots.max(axis=1) - 1e-9):
            errors.append("a vector is not assigned to its nearest centroid")
        errors = [("build", e) for e in errors]
        for i, (qv, got) in enumerate(op.detail["answers"]):
            why = self._check_query(np.array(qv), got, ids, vecs, cells, cell_ids, cent)
            if why:
                errors.append((f"query {i}", why))
        return errors

    def _check_query(self, q, got, ids, vecs, cells, cell_ids, cent) -> str | None:
        """Exact top-k scores over the probed cells, recomputed with numpy
        and compared within rounding. Every id returned must be a probed
        candidate with the score reported; which of several tied ids is
        returned is not checked."""
        from kg.ops.simsearch import TOP_K

        order = np.lexsort((cell_ids, -(cent @ q)))
        probe = cell_ids[order[: self.n_probe]]
        cand = np.isin(cells, probe)
        score = np.round(vecs[cand] @ q, 4)
        by_id = dict(zip(ids[cand].tolist(), score.tolist()))
        want = sorted(score.tolist(), reverse=True)[:TOP_K]
        if len(got) != len(want):
            return f"{len(got)} results, expected {len(want)}"
        for (vec_id, rank, cos), ref_cos in zip(got, want):
            if vec_id not in by_id or abs(by_id[vec_id] - cos) > 2e-4:
                return f"vec {vec_id} is not a probed candidate with score {cos}"
            if abs(cos - ref_cos) > 2e-4:
                return f"rank {rank} score {cos} != {ref_cos}"
        if [r for _, r, _ in got] != list(range(1, len(got) + 1)):
            return "ranks are not 1..k"
        return None

    def items(self, op: Op | None) -> int:
        """The index build and each query count as one attempt."""
        return 1 + self.queries

    def cleanup(self, op: Op) -> None:
        shutil.rmtree(op.out, ignore_errors=True)

    def prefixes(self, spark, tracer) -> dict:
        """The traced operation already runs train, index build and
        queries under their own job groups; nothing to force."""
        return {"walls": {}, "link_exchanges": 0}


WORKLOADS = {w.name: w for w in (ResumeCorpus, AnnIvf)}
