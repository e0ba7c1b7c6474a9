"""Seeded inputs, the index build both workload families share, the cached
serving index, and the BM25 oracle the serve workloads are checked against.

Every index here is built by the code under test, through its public entry
points (``write_webpages_parquet`` -> ``prepare_webpages_fused`` ->
``IndexBuild.run``). The serving index is built once per checkout and
cached under a content hash of ``defactonlp_spark/`` plus the corpus seed,
size and build settings; it is served from the directory it was built in,
because ``LocalTable`` snapshots record absolute data paths.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.functions.tokenize import tokenize_one
from defactonlp_spark.operators.segments import bm25_contrib, idf
from defactonlp_spark.plans.build import IndexBuild, prepare_webpages_fused
from defactonlp_spark.sources.fixtures import write_webpages_parquet

#: pages per corpus (plus ~3% recrawls of the same urls)
N_PAGES = 20_000
#: the serving index's corpus is fixed; the seed of a serve run draws claims
SERVE_CORPUS_SEED = 42
#: pinned fused-prepare partition count. The engine default (256) is a
#: per-task fixed cost that dominates a corpus this size.
N_PARTS = 16
N_GROUPS = 2
CFG = EngineConfig(n_buckets=8)


def write_pages(path: str, seed: int, n: int = N_PAGES) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return write_webpages_parquet(path, n, seed=seed)


def latest_texts(pages_dir: str):
    """(urls, texts) of the latest crawl per url, read back from the files
    the build reads — the generator-side truth for the build checks."""
    import pyarrow.parquet as pq

    pdf = pq.read_table(pages_dir, columns=["url", "warc_ts", "text"]).to_pandas()
    pdf = pdf.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    return pdf["url"].tolist(), pdf["text"].tolist()


def expected_build(pages_dir: str) -> dict:
    urls, texts = latest_texts(pages_dir)
    return {
        "n_docs": len(set(urls)),
        "total_tokens": sum(len(tokenize_one(t)) for t in texts),
        "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
    }


def build_index(spark, pages_dir: str, out_dir: str, build_id: str) -> dict:
    pages = spark.read.parquet(pages_dir)
    return IndexBuild(out_dir, CFG, build_id=build_id, n_groups=N_GROUPS).run(
        spark, prepare_webpages_fused(pages, n_parts=N_PARTS), input_snapshot=build_id
    )


def segment_bytes(index_dir: str) -> int:
    """Bytes of the index's segment parquet files on disk."""
    return sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(os.path.join(index_dir, "segments"))
        for fn in fns
        if fn.endswith(".parquet")
    )


def parquet_rows(path: str) -> int:
    """Row count from parquet footers, no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(dp, fn)).metadata.num_rows
        for dp, _, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )


def check_build(props: dict, expected: dict) -> list[str]:
    errs = []
    for key in ("n_docs", "total_tokens"):
        if int(props[key]) != expected[key]:
            errs.append(f"{key}: index {props[key]} != generator {expected[key]}")
    return errs


# -- serving fixture ----------------------------------------------------------


def _code_hash(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "defactonlp_spark")
    for dp, dns, fns in os.walk(pkg):
        dns[:] = sorted(d for d in dns if d != "__pycache__")
        for fn in sorted(fns):
            if fn.endswith(".py"):
                p = os.path.join(dp, fn)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    params = [SERVE_CORPUS_SEED, N_PAGES, N_PARTS, N_GROUPS, repr(CFG)]
    h.update(json.dumps(params).encode())
    return h.hexdigest()[:16]


def serving_dir(root: str, cache_dir: str) -> str:
    """Directory of the serving index for this engine code, with the
    oracle's inputs in ``oracle.npz`` beside it."""
    return os.path.join(cache_dir, f"serve-{_code_hash(root)}")


def serving_ready(d: str) -> bool:
    return os.path.exists(os.path.join(d, "READY"))


def build_serving(spark, d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)
    pages_dir = write_pages(os.path.join(d, "pages"), SERVE_CORPUS_SEED)
    build_index(spark, pages_dir, os.path.join(d, "index"), "serve")
    _write_oracle(spark, pages_dir, os.path.join(d, "oracle.npz"))
    with open(os.path.join(d, "stats.json"), "w") as f:
        json.dump(expected_build(pages_dir), f)
    shutil.rmtree(pages_dir)
    with open(os.path.join(d, "READY"), "w") as f:
        f.write("ok\n")


def _write_oracle(spark, pages_dir: str, path: str) -> None:
    """Per-term postings of the generator's own texts, keyed by the doc ids
    the fused build assigns. Those ids (pid * 2^40 + rank) equal
    ``assign_doc_ids(strategy="partitioned")`` with the same pinned
    partition count, which maps them to urls without touching segments."""
    from collections import Counter

    from defactonlp_spark.operators.postings import assign_doc_ids, latest_per_url

    pages = spark.read.parquet(pages_dir).select("url", "warc_ts", "html")
    ids = assign_doc_ids(latest_per_url(pages), "partitioned", n_parts=N_PARTS)
    id_of = {r["url"]: r["doc_id"] for r in ids.select("url", "doc_id").collect()}
    urls, texts = latest_texts(pages_dir)
    doc_ids = np.array([id_of[u] for u in urls], dtype=np.int64)
    dl = np.zeros(len(texts), dtype=np.int64)
    post: dict[str, tuple[list[int], list[int]]] = {}
    for i, t in enumerate(texts):
        toks = tokenize_one(t)
        dl[i] = len(toks)
        for term, tf in Counter(toks).items():
            p = post.setdefault(term, ([], []))
            p[0].append(i)
            p[1].append(tf)
    terms = sorted(post)
    lens = np.array([len(post[t][0]) for t in terms], dtype=np.int64)
    np.savez(
        path,
        doc_ids=doc_ids,
        dl=dl,
        terms=np.array(terms, dtype=object),
        offsets=np.concatenate(([0], np.cumsum(lens))),
        docs=np.concatenate([np.array(post[t][0], dtype=np.int32) for t in terms]),
        tfs=np.concatenate([np.array(post[t][1], dtype=np.int32) for t in terms]),
    )


class Oracle:
    """Exact top-k BM25 over the generator's texts: no segments, no WAND.
    Per-doc contributions are summed in ascending term order in float64 with
    the engine's own formula helpers, so scores must match bit for bit."""

    def __init__(self, path: str):
        z = np.load(path, allow_pickle=True)
        self.doc_ids, self.dl = z["doc_ids"], z["dl"]
        self.n = int(self.doc_ids.size)
        self.avgdl = float(int(self.dl.sum()) / self.n)
        off, docs, tfs = z["offsets"], z["docs"], z["tfs"]
        self.post = {
            t: (docs[off[i] : off[i + 1]], tfs[off[i] : off[i + 1]])
            for i, t in enumerate(z["terms"].tolist())
        }

    def topk(self, claim: str, k: int) -> list[tuple[int, float]]:
        scores = np.zeros(self.n, dtype=np.float64)
        for t in sorted(set(tokenize_one(claim))):
            if t not in self.post:
                continue
            idx, tf = self.post[t]
            idf_t = float(idf(int(idx.size), self.n))
            scores[idx] += bm25_contrib(tf, self.dl[idx], idf_t, self.avgdl, CFG.bm25)
        hit = np.nonzero(scores > 0.0)[0]
        order = np.lexsort((self.doc_ids[hit], -scores[hit]))[:k]
        return [(int(self.doc_ids[hit[i]]), float(scores[hit[i]])) for i in order]
