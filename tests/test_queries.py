"""Query-level tests at sf0.001: every declared query runs and returns a
stable schema; a fast subset is oracle-compared against DuckDB in-process
(the full gate is tools/check_oracle.py)."""

from __future__ import annotations

import json

import duckdb
import pytest

from hippo_claim_crossover_spark.io import TABLES
from hippo_claim_crossover_spark.plans import ALL_SPECS
from tools.plan_ledger import LEDGER, REGENERATE, plan_shape

# Cheap-but-representative subset for the in-test oracle compare.
ORACLE_SUBSET = [
    "q_crossover", "q_agg_multi", "q_join_left", "q_win_frame",
    "q_stream_session", "q_text_quality", "q_dedup_minhash", "q_sim_topk",
    "q_embed_gram",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{tbl}.parquet')")
    return con


@pytest.fixture(scope="module")
def ledger():
    with open(LEDGER) as f:
        return json.load(f)


def test_ledger_rows_are_the_declared_queries(ledger):
    """A stale, missing or out-of-order row fails here, without Spark."""
    assert list(ledger) == sorted(ALL_SPECS)


@pytest.mark.parametrize("name", sorted(ALL_SPECS))
def test_query_runs(spark, sf_dir, ledger, name):
    df = ALL_SPECS[name].fn(spark, sf_dir)
    assert df.columns, name
    assert plan_shape(df) == ledger.get(name), (
        f"{name}: plan shape differs from query_ledger.json; if the change "
        f"is intended, regenerate with `{REGENERATE}` and review the diff")
    # q_join_anti legitimately returns 0 rows at tiny sf; everything else
    # must produce data.
    n = df.count()
    if name not in ("q_join_anti",):
        assert n > 0, f"{name} returned no rows"


@pytest.mark.parametrize("name", ORACLE_SUBSET)
def test_oracle_subset(spark, sf_dir, duck, name):
    from tools.check_oracle import compare

    spec = ALL_SPECS[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    ddf = duck.execute(spec.oracle).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    names = set(df.columns)
    assert {"claim_id", "claim_total", "n_services"} <= names


def test_registry_contract():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query is oracle-checked: the formerly rows-only approximate
    # ops now emit deterministic verdict columns (exact side + band
    # booleans) the DuckDB oracle reproduces
    assert set(qs) == set(oracles)


def test_gate_window_marker_is_accurate():
    """The '---- end of gate window ----' comment in plans/__init__.py is
    how round-to-round window rotation is reasoned about — it must sit
    exactly at the GATE_WINDOW boundary, not drift as entries are added."""
    import re

    from hippo_claim_crossover_spark import plans

    src = open(plans.__file__).read()
    pre = src.split("# ---- end of gate window")[0]
    names = re.findall(r'"(q_\w+)"', pre.split("GATE_ORDER = [")[1])
    assert names == plans.GATE_ORDER[:plans.GATE_WINDOW]


def test_bm25_matches_pure_python(spark, sf_dir):
    """q_bm25 equals an independent pure-Python BM25 (same rational-odds
    IDF) computed straight off the parquet — validates the join/agg
    assembly end-to-end, not just engine-vs-engine SQL parity."""
    import math

    import pyarrow.parquet as pq

    from hippo_claim_crossover_spark.plans.text import _BM25_TERMS

    tbl = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    docs = dict(zip(tbl["doc_id"], [t.split(" ") for t in tbl["text"]]))
    n_docs = float(len(docs))
    tot_dl = float(sum(len(ws) for ws in docs.values()))
    avgdl = tot_dl / n_docs
    df = {term: sum(1 for ws in docs.values() if term in ws)
          for term in _BM25_TERMS}
    want = {}
    for doc_id, ws in docs.items():
        score, n_terms = 0.0, 0
        for term in _BM25_TERMS:
            tf = ws.count(term)
            if not tf:
                continue
            n_terms += 1
            idf = (n_docs - df[term] + 0.5) / (df[term] + 0.5) + 1.0
            sat = (tf * (1.2 + 1.0)) / (
                tf + 1.2 * ((1.0 - 0.75) + 0.75 * (len(ws) / avgdl)))
            score += idf * sat
        if n_terms:
            want[doc_id] = (n_terms, math.floor(score * 1e6 + 0.5) / 1e6)
    got = {r["doc_id"]: (r["n_terms"], r["score"]) for r in
           ALL_SPECS["q_bm25"].fn(spark, sf_dir).collect()}
    assert got.keys() == want.keys()
    for doc_id, (n_terms, score) in want.items():
        gn, gs = got[doc_id]
        assert gn == n_terms and abs(gs - score) < 1e-6, doc_id


def test_chunk_windows_cover_and_overlap(spark, sf_dir):
    """Chunking invariants on every fixture doc: chunk ids are dense
    from 0; every chunk but the last is exactly CHUNK tokens; windows
    advance by STRIDE so consecutive full chunks overlap by
    CHUNK-STRIDE; and the final window reaches the end of the doc
    (no token is orphaned)."""
    from hippo_claim_crossover_spark.plans.text import _CHUNK, _STRIDE

    import pyspark.sql.functions as F  # noqa: F811

    rows = ALL_SPECS["q_chunk"].fn(spark, sf_dir).collect()
    n_toks_by_doc = {
        r["doc_id"]: r["n"] for r in
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()}
    by_doc: dict[int, dict[int, int]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["n_toks"]
    assert by_doc.keys() == n_toks_by_doc.keys()
    for doc_id, chunks in by_doc.items():
        n = n_toks_by_doc[doc_id]
        k = len(chunks)
        assert sorted(chunks) == list(range(k))          # dense ids
        import math
        assert k == 1 + math.ceil(max(0, n - _CHUNK) / _STRIDE)
        for i in range(k - 1):
            assert chunks[i] == _CHUNK                   # full windows
        last_start = (k - 1) * _STRIDE
        assert chunks[k - 1] == min(_CHUNK, n - last_start)
        assert last_start + chunks[k - 1] >= n           # full coverage


def test_sample_balance_is_actually_balanced(spark, sf_dir):
    """The importance-weighted draw must flatten the language skew: each
    language's sampled share lands within a generous tolerance of the
    uniform target (the A-ES expectation), which the corpus itself does
    not satisfy."""
    from hippo_claim_crossover_spark.plans import ALL_SPECS

    out = {r["lang"]: r["n_sampled"]
           for r in ALL_SPECS["q_sample_balance"].fn(spark, sf_dir)
           .collect()}
    k = len(out)
    total = sum(out.values())
    target = total / k
    # corpus shares are heavily skewed (en dominates); balanced draw
    # should put every language within ±60% of uniform at K=200
    for lang, n in out.items():
        assert 0.4 * target <= n <= 1.6 * target, (lang, n, target)


def test_ngram_lm_matches_pure_python(spark, sf_dir):
    """q_ngram_lm equals an independent pure-Python bigram LM (same
    add-one smoothing, exact float log2 per bigram — no micro-bit
    snapping) within the snap tolerance: validates the model build and
    scoring end-to-end against textbook math, not just SQL parity."""
    import math

    import pyarrow.parquet as pq

    from hippo_claim_crossover_spark.plans.text import (
        NGRAM_LM_TAU, q_ngram_lm)

    tbl = pq.read_table(f"{sf_dir}/documents.parquet",
                        columns=["doc_id", "source", "text"]).to_pylist()
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    vocab = set()
    for r in tbl:
        toks = r["text"].split(" ")
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    v = len(vocab)
    per_source: dict[str, list[float]] = {}
    for r in tbl:
        toks = r["text"].split(" ")
        if len(toks) < 2:
            continue
        bits = [math.log2(c1[a] + v) - math.log2(c2[(a, b)] + 1)
                for a, b in zip(toks, toks[1:])]
        per_source.setdefault(r["source"], []).append(
            sum(bits) / len(bits))
    got = {r["source"]: r for r in q_ngram_lm(spark, sf_dir).collect()}
    assert set(got) == set(per_source)
    for src, xents in per_source.items():
        g = got[src]
        assert g["n_docs"] == len(xents)
        # micro-bit snapping moves each bigram by <=5e-7 bits
        assert abs(g["n_kept"]
                   - sum(x < NGRAM_LM_TAU for x in xents)) <= 1
        assert abs(g["min_doc_bits"] - min(xents)) < 1e-3
        assert abs(g["max_doc_bits"] - max(xents)) < 1e-3


def test_curation_pipeline_counters_are_zero_not_null(spark, tmp_path):
    """A source whose documents all fall below QUALITY_FLOOR keeps its
    row in q_curation_pipeline: n_input counts it and every later
    counter is 0, never NULL — on Spark and in the DuckDB oracle."""
    import random

    from hippo_claim_crossover_spark.io import SCHEMAS
    from hippo_claim_crossover_spark.plans.dedup import (
        EVAL_SOURCE,
        QUALITY_FLOOR,
    )
    from tools.check_oracle import compare

    rng = random.Random(7)

    def words(n):
        return " ".join(f"w{rng.randrange(10**6)}" for _ in range(n))

    rows = ([(i, words(90), "en", EVAL_SOURCE, 0) for i in range(4)]
            + [(10 + i, words(90), "en", "good", 0) for i in range(6)]
            + [(20 + i, "the a and of " * 5, "en", "junk", 0)
               for i in range(3)])
    sf = tmp_path / "sf"
    sf.mkdir()
    # one parquet file, like the fixtures (DuckDB's view reads a file)
    (spark.createDataFrame(rows, SCHEMAS["documents"]).toPandas()
     .to_parquet(sf / "documents.parquet", index=False))

    spec = ALL_SPECS["q_curation_pipeline"]
    got = {r["source"]: r.asDict()
           for r in spec.fn(spark, str(sf)).collect()}
    assert QUALITY_FLOOR > 0
    assert got["junk"] == {
        "source": "junk", "n_input": 3, "n_quality": 0, "n_exact": 0,
        "n_neardup": 0, "n_clean": 0, "n_tokens": 0, "n_bins": 0}
    assert got["good"]["n_clean"] == 6

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    problems = compare("q_curation_pipeline",
                       spec.fn(spark, str(sf)).toPandas(),
                       con.execute(spec.oracle).fetchdf())
    assert not problems, problems
