"""Seeded benchmark inputs and their independent references.

Everything here is generated from the seed alone and cached per seed under
the work directory, so a run never depends on data outside the checkout and
setup time never depends on what an earlier run left behind (a missing or
torn cache entry is rebuilt; generation is not part of ``setup_s``).

* ``docs.parquet`` — a synthetic stand-in for the ``documents`` table the
  page generator draws paragraph text from (doc_id, text, lang).
* ``pages.parquet`` / ``edges_expected.parquet`` —
  ``scalemine_spark.fixtures.materialize_pages`` over those docs: crawled
  pages (url, warc_ts, html, text, lang) and the generator's ground-truth
  normalized link pairs.
* ``reference.json`` — answers for the ground-truth graph from code that
  shares nothing with the engine: the weakly-connected-component count and
  the undirected triangle count in DuckDB, and PageRank and HITS
  (``ITERATE_ITERS`` iterations, the engine's update rules) in numpy. The
  PageRank and HITS answers are sums of squares, which do not depend on
  how vertices are numbered.

``labelprop_reference`` is the same kind of reference for label
propagation. Its ties go to the smallest label, so it runs on the engine's
own vertex ids, which the workload collects.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 8k pages -> 117k edges at seed 42: one cold iterate pass takes about 25 s
# on 4 cores, which the run budget allows (perfbench/README.md, "Where
# timing starts, and the scale"). At this size the loops are bound by
# per-job and per-exchange cost, which is what ROADMAP items 1, 3 and 4
# change.
N_PAGES = 8000
# iterate's iteration counts, which reference.json's PageRank and HITS
# answers are for. Fewer LPA and HITS rounds than PageRank's 10: at this
# scale every round costs about the same fixed per-job time, and one
# warm-up pass plus one timed pass of each graph workload must fit the run
# budget
ITERATE_ITERS = {"pr": 10, "lpa": 1, "hits": 2}
N_DOCS = 2000
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join shuffle page link graph rank label crawl index node edge"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "zh")


def _write_docs(path: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n_words = rng.integers(8, 60, size=N_DOCS)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in n_words]
    langs = [_LANGS[i] for i in rng.integers(0, len(_LANGS), size=N_DOCS)]
    table = pa.table(
        {"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts, "lang": langs}
    )
    pq.write_table(table, path)


def _reference(edges_path: str) -> dict:
    """Reference answers for the ground-truth link graph."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            f"""
            CREATE TABLE e AS
            SELECT DISTINCT src_url AS s, dst_url AS d
            FROM read_parquet('{edges_path}') WHERE src_url <> dst_url
            """
        )
        con.execute(
            """
            CREATE TABLE vid AS
            SELECT u, row_number() OVER (ORDER BY u) AS id
            FROM (SELECT s AS u FROM e UNION SELECT d FROM e)
            """
        )
        con.execute(
            """
            CREATE TABLE und AS
            SELECT DISTINCT least(a.id, b.id) AS a, greatest(a.id, b.id) AS b
            FROM e JOIN vid a ON e.s = a.u JOIN vid b ON e.d = b.u
            """
        )
        (triangles,) = con.execute(
            """
            SELECT count(*) FROM und e1
            JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
            """
        ).fetchone()
        # min-label propagation to a fixpoint: each vertex ends with the
        # smallest id of its weakly connected component
        con.execute("CREATE TABLE lab AS SELECT id, id AS c FROM vid")
        while True:
            con.execute(
                """
                CREATE OR REPLACE TABLE nxt AS
                SELECT l.id, least(l.c, coalesce(m.c, l.c)) AS c
                FROM lab l LEFT JOIN (
                    SELECT x AS id, min(c) AS c FROM (
                        SELECT und.a AS x, lab.c FROM und JOIN lab ON und.b = lab.id
                        UNION ALL
                        SELECT und.b AS x, lab.c FROM und JOIN lab ON und.a = lab.id
                    ) GROUP BY x
                ) m ON l.id = m.id
                """
            )
            (changed,) = con.execute(
                "SELECT count(*) FROM nxt JOIN lab USING (id) WHERE nxt.c <> lab.c"
            ).fetchone()
            con.execute("CREATE OR REPLACE TABLE lab AS SELECT * FROM nxt")
            if changed == 0:
                break
        (components,) = con.execute("SELECT count(DISTINCT c) FROM lab").fetchone()
        n_vertices = con.execute("SELECT count(*) FROM vid").fetchone()[0]
        src, dst = con.execute(
            "SELECT a.id - 1, b.id - 1 FROM e JOIN vid a ON e.s = a.u JOIN vid b ON e.d = b.u"
        ).fetchnumpy().values()
    finally:
        con.close()
    src, dst = src.astype(np.int64), dst.astype(np.int64)
    pr = _pagerank(src, dst, n_vertices, ITERATE_ITERS["pr"])
    auth, hub = _hits(src, dst, n_vertices, ITERATE_ITERS["hits"])
    return {
        "components": int(components),
        "triangles": int(triangles),
        "edges": int(len(src)),
        "pagerank_sumsq": float(np.sum(pr * pr)),
        "hits_auth_sumsq": float(np.sum(auth * auth)),
        "hits_hub_sumsq": float(np.sum(hub * hub)),
    }


def _pagerank(src, dst, n: int, iters: int, d: float = 0.85) -> np.ndarray:
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    dangling = out_deg == 0
    for _ in range(iters):
        contrib = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=n)
        rank = (1.0 - d) / n + d * rank[dangling].sum() / n + d * contrib
    return rank


def pagerank_reference(src: np.ndarray, dst: np.ndarray, iters: int) -> tuple[np.ndarray, np.ndarray]:
    """PageRank after ``iters`` iterations over the vertices of the raw
    edge endpoints, the engine's update rule. Returns the sorted vertex ids
    and their ranks."""
    ids = np.unique(np.concatenate([src, dst]))
    s, d = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    return ids, _pagerank(s, d, len(ids), iters)


def _hits(src, dst, n: int, iters: int) -> tuple[np.ndarray, np.ndarray]:
    hub = np.ones(n)
    for _ in range(iters):
        auth = np.bincount(dst, weights=hub[src], minlength=n)
        hub = np.bincount(src, weights=auth[dst], minlength=n)
        hub = hub / hub.sum()
    return auth / auth.sum(), hub


def labelprop_reference(src: np.ndarray, dst: np.ndarray, iters: int) -> np.ndarray:
    """Labels after ``iters`` synchronous label-propagation rounds, the
    engine's rule: every vertex of the raw edge endpoints starts with its
    own id as its label; each round a vertex takes the label most frequent
    among its distinct undirected neighbours (self-loops dropped), ties to
    the smallest label, and keeps its label if it has no neighbour."""
    ids = np.unique(np.concatenate([src, dst]))
    keep = src != dst
    s, d = np.searchsorted(ids, src[keep]), np.searchsorted(ids, dst[keep])
    pairs = np.unique(np.stack([np.concatenate([s, d]), np.concatenate([d, s])], axis=1), axis=0)
    a, b = pairs[:, 0], pairs[:, 1]
    label = ids.copy()
    for _ in range(iters):
        nbr = label[b]
        order = np.lexsort((nbr, a))
        va, vl = a[order], nbr[order]
        starts = np.flatnonzero(np.r_[True, (va[1:] != va[:-1]) | (vl[1:] != vl[:-1])])
        cnt = np.diff(np.r_[starts, len(va)])
        va, vl = va[starts], vl[starts]
        # per vertex: the largest count first, then the smallest label
        best = np.lexsort((vl, -cnt, va))
        va, vl = va[best], vl[best]
        first = np.r_[True, va[1:] != va[:-1]]
        label[va[first]] = vl[first]
    return label


def _seed_dir(work_dir: str, seed: int) -> str:
    # the references depend on the iteration counts as well as the seed
    return os.path.join(
        work_dir, "inputs", f"seed{seed}-pr{ITERATE_ITERS['pr']}-hits{ITERATE_ITERS['hits']}"
    )


def ensure(work_dir: str, seed: int) -> None:
    """Generate the inputs for ``seed`` unless this checkout already has
    them. Built in a scratch directory and renamed into place, so an
    interrupted build is never mistaken for a finished one."""
    final = _seed_dir(work_dir, seed)
    if os.path.exists(os.path.join(final, "reference.json")):
        return
    from scalemine_spark.fixtures import materialize_pages

    building = final + f".building{os.getpid()}"
    shutil.rmtree(building, ignore_errors=True)
    os.makedirs(building)
    docs = os.path.join(building, "docs.parquet")
    _write_docs(docs, seed)
    ppath, epath = materialize_pages(docs, building, n_pages=N_PAGES, seed=seed)
    ref = _reference(epath)
    ref["pages_file"] = os.path.relpath(ppath, building)
    ref["edges_file"] = os.path.relpath(epath, building)
    with open(os.path.join(building, "reference.json"), "w") as fh:
        json.dump(ref, fh)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(building, final)


def load(work_dir: str, seed: int) -> dict:
    """Paths and references of the inputs ``ensure`` made for ``seed``."""
    final = _seed_dir(work_dir, seed)
    with open(os.path.join(final, "reference.json")) as fh:
        ref = json.load(fh)
    return {
        "pages": os.path.join(final, ref["pages_file"]),
        "edges_expected": os.path.join(final, ref["edges_file"]),
        "reference": ref,
    }


if __name__ == "__main__":
    # python3 perfbench/inputs.py WORK_DIR SEED — run.py generates in a
    # child process so the generator's memory never counts as the driver's
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ensure(sys.argv[1], int(sys.argv[2]))
