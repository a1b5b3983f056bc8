"""Regression tests for the round-4 ADVICE findings.

- cli curate must DROP 100%-boilerplate documents instead of restoring
  their original (fully duplicated) text, and clean_text must keep the
  trailing partial span (cli.py:113).
- tools/golden.golden_link_rank must quantize with the same size-scaled
  q = max(9, ceil(log10 n) + 7) as operators/linkrank.pagerank, and the
  quantization path must be exercised by a NON-regular graph (the
  derived 2-regular fixture keeps ranks uniform, hiding any mismatch)
  (golden.py:382).
- similarity.connected_components must fail loudly when a component's
  diameter exceeds max_iters instead of silently returning split
  clusters (similarity.py:1161).
"""

from __future__ import annotations

import json
import math
import sys
from collections import Counter, defaultdict

import pytest

sys.path.insert(0, ".")


def test_connected_components_raises_when_unconverged(spark):
    from webscraper_spark.operators.similarity import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    # diameter 8 > 2 iterations of 1-hop min-label propagation
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2).collect()
    # with room to converge the same chain is one cluster labeled 0
    ok = connected_components(chain, max_iters=25).collect()
    assert {r["cluster_id"] for r in ok} == {0}
    assert len(ok) == 9


def _sequential_pagerank(edges, n_iters=3, damping=0.85, q=None):
    """Pure-Python twin of operators/linkrank.pagerank, including its
    size-scaled quantization q = max(9, ceil(log10 n) + 7)."""
    edges = set(edges)
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    if q is None:
        q = max(9, int(math.ceil(math.log10(n))) + 7)
    rank = {v: round(1.0 / n, q) for v in nodes}
    outdeg = Counter(s for s, _ in edges)
    for _ in range(n_iters):
        dangling = sum(rank[v] for v in nodes if outdeg.get(v, 0) == 0)
        contrib: dict = defaultdict(float)
        for s, d in edges:
            contrib[d] += rank[s] / outdeg[s]
        rank = {
            v: round(
                (1 - damping) / n
                + damping * (contrib.get(v, 0.0) + dangling / n),
                q,
            )
            for v in nodes
        }
    return rank


def test_pagerank_nonregular_graph_matches_sequential_twin(spark):
    # NON-regular graph: varied out-degrees plus a dangling sink, so
    # ranks are non-uniform and the quantization path is actually
    # exercised (the 2-regular oracle fixture keeps ranks uniform)
    from webscraper_spark.operators.linkrank import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 6), (4, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    # 3 iterations: at 4, node 6's true rank lands EXACTLY on the 1e-9
    # rounding boundary (n=5 keeps every rank decimal-finite) and Spark's
    # double differs from Python's by 1 ulp — the documented measure-zero
    # edge of quantized determinism, not a quantization-formula bug
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iters=3).collect()}
    want = _sequential_pagerank(edges, n_iters=3)
    assert got == want
    assert len({v for v in want.values()}) > 1  # genuinely non-uniform


def test_pagerank_size_scaled_quantization_exercised(spark):
    # >100 nodes pushes q to 10; degree-3 nodes make ranks
    # decimal-infinite so the 10th digit genuinely varies
    from webscraper_spark.operators.linkrank import pagerank

    edges = []
    for i in range(150):
        edges.append((i, (i * i + 1) % 150))
        edges.append((i, (3 * i + 5) % 150))
        if i % 7 == 0:
            edges.append((i, (i + 75) % 150))
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iters=3).collect()}
    want = _sequential_pagerank(edges, n_iters=3)  # q = 10
    assert got == want
    # the 10th decimal is load-bearing: a q=9 twin (the old golden bug)
    # visibly diverges on this graph
    stale = _sequential_pagerank(edges, n_iters=3, q=9)
    assert stale != want


def test_golden_link_rank_matches_engine_on_fixture(spark):
    # the golden twin must track the engine's size-scaled quantization
    # (n = 500 docs → q = 10, not the old hard-coded 9)
    sys.path.insert(0, "tools")
    from golden import golden_link_rank

    import __spark_entry__ as entry

    want = {r["node"]: r["rank"]
            for r in golden_link_rank("/root/testdata/sf0.001", n_iters=3)}
    got = {r["node"]: r["rank"]
           for r in entry.queries()["link_rank"](
               spark, "/root/testdata/sf0.001").collect()}
    assert got == want


BOIL = ("all rights reserved this website and its content are protected "
        "by the terms of service below")  # 16 words = 2 full spans

TAIL_A = ("the quick brown fox jumped over the lazy dog while many other "
          "animals watched from the side of the old wooden fence near the "
          "river bank in the warm evening light")
TAIL_B = ("she walked slowly through the quiet garden and looked at the "
          "bright flowers that grew along the narrow stone path behind "
          "the little white house on the hill above the village")


def test_curate_drops_all_boilerplate_docs(spark, tmp_path, capsys):
    from webscraper_spark import cli

    docs = spark.createDataFrame(
        [
            (1, BOIL + " " + TAIL_A),
            (2, BOIL + " " + TAIL_B),
            (3, BOIL),  # every passage cross-doc boilerplate
        ],
        "doc_id long, text string",
    )
    docs_dir = str(tmp_path / "docs.parquet")
    docs.write.mode("overwrite").parquet(docs_dir)
    out = str(tmp_path / "curated")
    rc = cli.main([
        "--cores", "4", "curate",
        "--docs", docs_dir, "--out", out, "--min-quality", "0",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    clean = spark.read.parquet(f"{out}/clean_docs.parquet")
    rows = {r["doc_id"]: r["text"] for r in clean.collect()}
    # the 100%-boilerplate doc is dropped, NOT restored verbatim
    assert 3 not in rows
    assert summary["docs_in"] == 3
    # survivors lost the shared boilerplate prefix but keep their full
    # tail including the trailing partial span
    assert rows[1].startswith("the quick brown fox")
    assert rows[1].endswith("warm evening light")
    assert rows[2].startswith("she walked slowly")
    assert rows[2].endswith("above the village")
