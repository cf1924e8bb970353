"""Plan-shape regression guards — the scale properties that must not rot:
a shuffle-free fast branch, exactly one wide (groupBy) shuffle in the
wide branch, one ArrowEvalPython boundary per branch, pruned document
scans, no second execution of the UDF subtree, a resume done set read as
bare doc_ids, and no unbounded global window."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from coa_ocr_simple_spark.plans.extract_plan import (
    ExtractOptions,
    _fastpath_plan,
    _fused_plan,
    build_extract_plan,
    explode_spans,
)


def test_single_span_fastpath_never_shuffles(spark, tmp_path):
    """An all-single-text-span corpus must produce a completely narrow
    plan: zero exchanges, scan -> fused UDF -> sink."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coa_ocr_simple_spark.fixtures.generate import DOCS_SCHEMA

    docs = [
        {
            "doc_id": f"doc-{i:04d}",
            "spans": [
                {"kind": "text", "text": f"Lot Number: L{i}", "media_ref": None, "offset": 0}
            ],
        }
        for i in range(50)
    ]
    path = str(tmp_path / "simple.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_SCHEMA), path)

    docs_df = spark.read.parquet(path)
    options = ExtractOptions(run_id="fast")
    # the wide branch is empty but still planned; the FAST branch itself
    # must contain no exchange between its scan and its UDF — and the
    # whole job must still return every doc exactly once
    fast = _fastpath_plan(docs_df, options)
    s = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in s, s

    plan = build_extract_plan(docs_df, None, options=options)
    rows = plan.collect()
    assert len(rows) == 50
    assert {r["doc_id"] for r in rows} == {d["doc_id"] for d in docs}
    assert all(r["n_spans"] == 1 for r in rows)


def test_dedup_pair_plans_never_cartesian_and_scan_once(spark):
    """The pair-generation queries must be bucket-grouped, not all-pairs:
    no cartesian / nested-loop join node anywhere, and the expensive
    upstream transform (md5 shingles / quantized vectors) must appear in
    the plan exactly once (no self-join double evaluation)."""
    from coa_ocr_simple_spark.plans.driver_queries_dedup import (
        q_embedding_neardup,
        q_minhash_candidate_pairs,
    )

    sf_dir = "/root/testdata/sf0.001"

    pairs = q_minhash_candidate_pairs(spark, sf_dir)
    s = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s, s
    # bands are persisted and feed the size pass + both pair-join sides:
    # the md5-shingle transform runs once (cache fill), every consumer
    # reads InMemoryTableScan
    assert s.count("InMemoryTableScan") >= 2, s
    # mega-buckets are excluded BEFORE the pair join (the semi-join
    # against the size-filtered bucket list feeds the equi-join sides)
    assert "LeftSemi" in s, s
    assert "collect_list" not in s, s

    near = q_embedding_neardup(spark, sf_dir)
    s2 = near._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s2 and "BroadcastNestedLoopJoin" not in s2, s2
    # quantized-embedding subtree is persisted: the three consumers must
    # all read the InMemoryRelation, not re-scan the parquet
    assert s2.count("InMemoryTableScan") >= 3, s2
    spark.catalog.clearCache()


def test_no_global_window_in_length_quantiles(spark):
    """Round-2 verdict item 2: the exact-quantile query must never plan a
    partition-less Window (a single-executor global sort at scale).  Every
    Window node in q_length_quantiles' physical plan must carry a
    partitionBy spec; other queries' plans are not checked here."""
    from coa_ocr_simple_spark.plans.driver_queries_corpus import q_length_quantiles

    df = q_length_quantiles(spark, "/root/testdata/sf0.001")
    s = df._jdf.queryExecution().executedPlan().toString()
    for line in s.splitlines():
        if "windowspecdefinition(" not in line:
            continue
        # a partitioned window prints windowspecdefinition(<partcols>,
        # <ordercol> ASC ...); partition-less ones start straight at the
        # order column — i.e. the spec's second element is the frame
        spec = line.split("windowspecdefinition(", 1)[1]
        first_arg = spec.split(",", 1)[0]
        # the first arg must be a partition column, not an "x ASC/DESC"
        # ordering expression (which is what a global window starts with)
        assert " ASC" not in first_arg and " DESC" not in first_arg, line


# Every global (partition-less) window in the package, by (file, function),
# with the domain that bounds its single-partition input.
GLOBAL_WINDOWS = {
    ("plans/driver_queries_mix.py", "q_vocab_coverage_curve"):
        "one row per distinct BPE token: the corpus alphabet plus the fixed merges",
    ("plans/driver_queries_mix.py", "token_budget_mixture"):
        "one row per source",
    ("plans/driver_queries_quality.py", "ccnet_ppl_buckets"):
        "one row per distinct mille_bits: <= _LM_UNSEEN_BITS*1000 + 1 values",
    ("plans/driver_queries_ext.py", "_pq_codebook"):
        "seed vectors only: <= _PQ_SEED_SCAN/_PQ_SEED_MOD rows",
    ("plans/driver_queries_ext.py", "event_gap_histogram"):
        "one row per log2 gap bucket: <= 64 values",
    ("plans/driver_queries_corpus.py", "bm25_model"):
        "terms with df >= N/20: at most 20*avgdl rows",
}


def _global_window_sites(root: Path) -> set[tuple[str, str]]:
    """(file, innermost function) of every ``Window.orderBy(``,
    ``Window.rowsBetween(``, ``Window.rangeBetween(`` and argument-less
    ``Window.partitionBy()`` under ``root``."""
    sites = set()

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
            and (
                node.func.attr in ("orderBy", "rowsBetween", "rangeBetween")
                or (node.func.attr == "partitionBy" and not node.args)
            )
        ):
            sites.add((path.relative_to(root).as_posix(), func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text(encoding="utf-8")), "<module>")
    return sites


def test_every_global_window_is_allowlisted_with_its_bound():
    """A partition-less window moves all its rows into one partition, so
    each one must name the domain that keeps its input small.  A new
    site fails here until it is added to ``GLOBAL_WINDOWS``; a removed
    one fails until its entry goes."""
    root = Path(__file__).resolve().parents[1] / "coa_ocr_simple_spark"
    assert _global_window_sites(root) == set(GLOBAL_WINDOWS)


def test_resume_done_side_is_a_bare_doc_id_scan(spark, parity_corpus):
    """The done set of a resume is read as ``doc_id string`` and feeds
    the left-anti join as is: no distinct (its aggregate and shuffle),
    no column but doc_id."""
    from coa_ocr_simple_spark.operators.checkpoint import resume_filter
    from coa_ocr_simple_spark.sources.tables import TableIO

    docs = spark.read.parquet(parity_corpus["docs_path"])
    done = TableIO(spark).read(parity_corpus["docs_path"], "doc_id string")
    s = resume_filter(docs, done)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in s, s
    assert "HashAggregate" not in s, s
    assert not re.search(r"\bExchange\b", s), s  # a BroadcastExchange may stay
    scans = re.findall(r"FileScan parquet [^\n]*ReadSchema: (struct<[^\n]*>)", s)
    assert "struct<doc_id:string>" in scans, s


def test_fused_plan_shape(spark, parity_corpus):
    docs = spark.read.parquet(parity_corpus["docs_path"])
    media = spark.read.parquet(parity_corpus["media_path"])
    options = ExtractOptions(spread_partitions=16, run_id="shape")
    plan = _fused_plan(explode_spans(docs), media, options)
    s = plan._jdf.queryExecution().executedPlan().toString()

    # one Python boundary: the fused decode+assemble+extract UDF
    assert s.count("ArrowEvalPython") == 1, s
    assert "BatchEvalPython" not in s  # no row-at-a-time Python anywhere

    # exchanges: skew spread (1) + media join side(s) + the one groupBy.
    # broadcast of the small media store removes its shuffle, so <= 3
    # non-broadcast exchanges; exactly one of them feeds an aggregate.
    exchanges = re.findall(r"\n[^\n]*\bExchange (hashpartitioning|RoundRobin)[^\n]*", s)
    assert 1 <= len(exchanges) <= 3, s
    assert s.count("ObjectHashAggregate") >= 1

    # document scans are pruned to (doc_id, spans)
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", s):
        cols = {c.split("#")[0] for c in m.group(1).split(",")}
        assert cols <= {"doc_id", "spans", "media_ref", "pages", "ocr_pages"}, cols

    # the extraction UDF appears exactly once in the plan tree -> its
    # subtree cannot be re-executed by a second consumer
    assert s.count("fused_extract(") == 1, s

    # the full default plan: one Python boundary per branch (fast + wide)
    full = build_extract_plan(docs, media, options=options)
    s = full._jdf.queryExecution().executedPlan().toString()
    assert s.count("ArrowEvalPython") == 2, s
    assert s.count("fused_extract(") == 2, s
    assert "BatchEvalPython" not in s


def test_bpe_encode_corpus_plan_is_shuffle_free(spark):
    """The distributed BPE encode is ONE per-row projection: its plan
    must contain no Exchange at all (beyond a possible repartition the
    _spread guard adds for single-file inputs — at sf0.001 the table is
    one file, so allow at most that one round-robin repartition and
    nothing key-based), no Window, no Join."""
    from coa_ocr_simple_spark.plans.driver_queries_mix import q_bpe_encode_corpus

    df = q_bpe_encode_corpus(spark, "/root/testdata/sf0.001")
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in s and "BroadcastHashJoin" not in s
    assert "Window" not in s
    assert "hashpartitioning" not in s  # no key shuffle anywhere
    assert "ArrowEvalPython" not in s  # fold engine: zero Python
    assert df.count() == 500


def test_lm_perplexity_plan_has_no_windows(spark):
    """lm_perplexity is aggregates + dimension joins only: any Window
    would mean an unbounded per-key sort snuck in."""
    from coa_ocr_simple_spark.plans.driver_queries_quality import q_lm_perplexity

    df = q_lm_perplexity(spark, "/root/testdata/sf0.001")
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in s
    assert "CartesianProduct" not in s


def test_char_shingles_splits_only_astral_rows(spark):
    """_char_shingles: only astral rows pay the char-array split (BMP
    rows get a NULL array), the split stays in its own projection (not
    inlined into the per-position lambda), and both branches equal the
    codepoint-slice reference."""
    from coa_ocr_simple_spark.plans.driver_queries import _char_shingles

    texts = ["abcdefgh", "ab\U0001F600cdef", "ab", None]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = _char_shingles(df, 3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    split_proj = [ln for ln in plan.splitlines() if "split(text" in ln]
    assert len(split_proj) == 1 and "AS _cs" in split_proj[0]
    assert "CASE WHEN RLIKE(text" in split_proj[0]
    assert "lambdafunction" not in split_proj[0]

    def ref(t, k=3):
        cs = list(t)
        return ["".join(cs[i:i + k]) for i in range(max(len(cs) - k + 1, 1))]

    got = {r["doc_id"]: r["sh"] for r in out.collect()}
    assert got == {i: (None if t is None else ref(t)) for i, t in enumerate(texts)}
