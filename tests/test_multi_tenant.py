"""Multi-tenant config selection (reference app.py:261-301
``get_tenant_processor``): one job invocation serves several tenants,
each extracting with its OWN trained patterns; an unseen tenant falls
back to the default config (the reference's fresh default processor)."""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from coa_ocr_simple_spark.core import EMPTY_CONFIG, extract_document
from coa_ocr_simple_spark.core.config import ModelConfig
from coa_ocr_simple_spark.core.convert import result_to_row
from coa_ocr_simple_spark.jobs.extract import parse_args, run, tenant_config_path

# the two tenant-trained fields live on colon-less lines, which the
# generic auto-discovery pass can NEVER pick up — only a tenant's trained
# pattern extracts them, so their presence proves which config ran
_COA_TEXT = (
    "Certificate of Analysis\n"
    "Lot Number: L-77\n"
    "Acidity index 6.8 units\n"
    "Shade grade 12 units\n"
)


def _write_corpus(tmp_path, tenants):
    docs = [
        {
            "doc_id": f"doc-{i:04d}",
            "tenant_id": tenant,
            "spans": [
                {"kind": "text", "text": _COA_TEXT, "media_ref": None, "offset": 0}
            ],
        }
        for i, tenant in enumerate(tenants)
    ]
    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("tenant_id", pa.string()),
            (
                "spans",
                pa.list_(
                    pa.struct(
                        [
                            ("kind", pa.string()),
                            ("text", pa.string()),
                            ("media_ref", pa.string()),
                            ("offset", pa.int32()),
                        ]
                    )
                ),
            ),
        ]
    )
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=schema), path)
    return path


def _tenant_config(field: str, pattern: str) -> ModelConfig:
    return ModelConfig(
        document_schemas={
            "coa": {"sections": [], "required_fields": [field], "auto_trained": []}
        },
        field_patterns={"coa": {field: pattern}},
    )


def test_two_tenants_extract_with_different_trained_patterns(spark, tmp_path):
    docs_path = _write_corpus(
        tmp_path, ["acme", "acme", "globex", "globex", "unknown-tenant"]
    )
    cfg_dir = tmp_path / "configs"
    cfg_dir.mkdir()
    # acme trained an acidity field; globex trained a shade-grade field
    _tenant_config("ph_value", r"(?i)Acidity\s+index\s+([\d.]+)").save(
        tenant_config_path(str(cfg_dir), "acme")
    )
    _tenant_config("color_index", r"(?i)Shade\s+grade\s+(\d+)").save(
        tenant_config_path(str(cfg_dir), "globex")
    )

    out = str(tmp_path / "extracted")
    summary = run(
        parse_args(
            [
                "--input", docs_path, "--output", out, "--run-id", "mt1",
                "--tenants", "acme,globex", "--config-dir", str(cfg_dir),
            ]
        ),
        spark,
    )
    assert summary["docs_written"] == 5

    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 5
    by_tenant = {}
    for r in rows.values():
        by_tenant.setdefault(r["_tenant_id"], []).append(r)

    for r in by_tenant["acme"]:
        assert r["entities"]["ph_value"] == "6.8"
        assert "color_index" not in r["entities"]
    for r in by_tenant["globex"]:
        assert r["entities"]["color_index"] == "12"
        assert "ph_value" not in r["entities"]
    # unseen tenant -> default (empty) config: no trained fields, but the
    # rule-based pass still runs (lot number present in the text)
    (u,) = by_tenant["unknown-tenant"]
    assert "ph_value" not in u["entities"] and "color_index" not in u["entities"]
    assert u["entities"]["batch_number"] == "L-77"


def test_single_tenant_without_tenant_column(spark, tmp_path):
    """The reference's one-request-one-tenant shape: --tenants with one id
    and no tenant column applies that tenant's config to every doc."""
    docs = [
        {
            "doc_id": "doc-0",
            "spans": [
                {"kind": "text", "text": _COA_TEXT, "media_ref": None, "offset": 0}
            ],
        }
    ]
    from coa_ocr_simple_spark.fixtures.generate import DOCS_SCHEMA

    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_SCHEMA), path)
    cfg_dir = tmp_path / "configs"
    cfg_dir.mkdir()
    _tenant_config("ph_value", r"(?i)Acidity\s+index\s+([\d.]+)").save(
        tenant_config_path(str(cfg_dir), "acme")
    )
    out = str(tmp_path / "extracted")
    run(
        parse_args(
            [
                "--input", path, "--output", out, "--run-id", "mt2",
                "--tenants", "acme", "--config-dir", str(cfg_dir),
            ]
        ),
        spark,
    )
    (row,) = spark.read.parquet(out).collect()
    assert row["entities"]["ph_value"] == "6.8"


def _tenant_plan(spark, docs_path, tenant_configs, done=None):
    from coa_ocr_simple_spark.plans.extract_plan import ExtractOptions, build_extract_plan

    docs = spark.read.parquet(docs_path).withColumnRenamed("tenant_id", "_tenant_id")
    return build_extract_plan(
        docs, None, options=ExtractOptions(tenant_configs=tenant_configs), done=done
    )


def test_default_branch_carries_tenant_without_join_back(spark, tmp_path):
    """Round-2 verdict item 7: unknown tenants re-emit _tenant_id as a
    carried column of the one plan — zero Join nodes anywhere in a
    media-less multi-tenant plan."""
    docs_path = _write_corpus(tmp_path, ["acme", "unknown-a", "unknown-b"])
    plan = _tenant_plan(
        spark,
        docs_path,
        {"acme": _tenant_config("ph_value", r"(?i)Acidity\s+index\s+([\d.]+)")},
    )
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in s, s
    rows = plan.collect()
    assert {r["_tenant_id"] for r in rows} == {"acme", "unknown-a", "unknown-b"}
    assert len(rows) == 3


def test_plan_does_not_grow_with_the_tenant_count(spark, tmp_path):
    """One fast and one wide branch for any tenant count: 2 Python UDFs
    and 3 scans of the input (a subplan per tenant planned 2(T+1) and
    3(T+1))."""
    docs_path = _write_corpus(tmp_path, [f"t{i % 5}" for i in range(10)])
    done_path = str(tmp_path / "done.parquet")
    spark.createDataFrame([("doc-0000",)], "doc_id string").write.parquet(done_path)
    for n_tenants in (1, 2, 5):
        configs = {f"t{i}": _tenant_config("ph_value", r"(x)") for i in range(n_tenants)}
        plan = _tenant_plan(spark, docs_path, configs, spark.read.parquet(done_path))
        s = plan._jdf.queryExecution().executedPlan().toString()
        assert s.count("ArrowEvalPython") == 2, (n_tenants, s)
        # the input scans read spans; the done set's reads doc_id alone
        input_scans = re.findall(r"FileScan parquet [^\n]*ReadSchema: [^\n]*spans:", s)
        assert len(input_scans) == 3, (n_tenants, s)
        assert plan.columns[-1] == "_tenant_id"


def test_tenant_map_keys_keep_the_oracle_order(spark, tmp_path):
    """The written entities/sections maps hold their keys in the order
    the tenant's own config gives them (read in Spark: a collected map
    passes through a Java hash map and loses its order)."""
    tenants = ["acme", "globex", "unknown-tenant"]
    docs_path = _write_corpus(tmp_path, tenants)
    configs = {
        "acme": _tenant_config("ph_value", r"(?i)Acidity\s+index\s+([\d.]+)"),
        "globex": _tenant_config("color_index", r"(?i)Shade\s+grade\s+(\d+)"),
    }
    out = str(tmp_path / "extracted")
    _tenant_plan(spark, docs_path, configs).write.parquet(out)
    got = {
        r["_tenant_id"]: (r["e"], r["s"])
        for r in spark.read.parquet(out)
        .select("_tenant_id", F.map_keys("entities").alias("e"), F.map_keys("sections").alias("s"))
        .collect()
    }
    spans = [{"kind": "text", "text": _COA_TEXT, "media_ref": None, "offset": 0}]
    for tenant in tenants:
        row = result_to_row(
            extract_document("", spans, lambda ref: ([], []), configs.get(tenant, EMPTY_CONFIG))
        )
        assert got[tenant] == (list(row["entities"]), list(row["sections"])), tenant
    assert "ph_value" in got["acme"][0] and "color_index" in got["globex"][0]
