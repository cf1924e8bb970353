"""End-to-end extraction plan builder (SURVEY.md §3.1 Spark lifecycle).

    read documents ──> resume anti-join ──┬──> exactly one text/html span
                                          │      ──> fused UDF              [fast: narrow]
                                          └──> every other document
                                                 ──> explode spans
                                                 ──> media spans: skew spread (hash
                                                     repartition on (doc_id, offset))
                                                     + media join
                                                 ──> groupBy(doc_id) (the one wide shuffle)
                                                 ──> fused UDF              [wide]
        ──> union ──> extracted rows (+ lineage columns)

Both branches end in the same fused Arrow UDF, which runs
``core.extract_document`` once per document (decode, assemble, extract):
one Python crossing per document.  The fast branch — the dominant
web-corpus shape — never shuffles.  Catalyst prunes the parquet scan to
(doc_id, spans) and pushes the resume anti-join below the explode.

Multi-tenant runs (reference app.py:261-301 ``get_tenant_processor``:
each tenant extracts with its own trained config, an unseen tenant with
the default) take the same plan: the input's ``_tenant_id`` rides along
both branches into the UDF, which picks the document's config, and is
re-emitted as the last result column.  The plan does not grow with the
tenant count.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.config import EMPTY_CONFIG, ModelConfig
from ..core.pipeline import SPAN_JOIN
from ..functions.udfs import make_fused_extractor_udf
from ..operators.checkpoint import resume_filter, with_lineage

MEDIA_KINDS = ("pdf", "image")
TENANT = "_tenant_id"


@dataclass
class ExtractOptions:
    config: ModelConfig = EMPTY_CONFIG  # the default, also of an unknown or null tenant
    # per-tenant configs keyed by the input's _tenant_id; when given, every
    # result row carries _tenant_id (carried through the plan, never re-joined)
    tenant_configs: dict[str, ModelConfig] = field(default_factory=dict)
    spread_partitions: int | None = None  # skew spread for exploded spans
    broadcast_media: bool | None = None  # None -> AQE decides
    include_full_text: bool = False  # full_text is big; opt-in (rebuilt
    # JVM-side from out_spans, so it never crosses Arrow)
    run_id: str = "run-0"


def build_extract_plan(
    docs: DataFrame,
    media: DataFrame | None,
    *,
    options: ExtractOptions | None = None,
    done: DataFrame | None = None,
) -> DataFrame:
    """Return the extracted-results DataFrame (unwritten; caller sinks it)."""
    options = options or ExtractOptions()

    todo = resume_filter(docs, done)

    # text AND html qualify: neither needs the media join, and the fused
    # UDF does the HTML strip itself
    is_simple = (F.size("spans") == 1) & (
        F.col("spans")[0]["kind"].isin("text", "html")
    )
    simple = todo.where(is_simple)
    complex_docs = todo.where(~F.coalesce(is_simple, F.lit(False)))
    fast = _fastpath_plan(simple, options)
    wide = _fused_plan(explode_spans(complex_docs, _carried(options)), media, options)
    return fast.unionByName(wide)


def _carried(options: ExtractOptions) -> tuple[str, ...]:
    """Input columns every result row re-emits: the tenant of a
    multi-tenant run."""
    return (TENANT,) if options.tenant_configs else ()


def _extract(raw_spans, options: ExtractOptions):
    """The fused UDF over ``struct(raw_spans, tenant)``; a run without
    tenant configs passes a null tenant, which gets ``options.config``."""
    tenant = F.col(TENANT) if options.tenant_configs else F.lit(None).cast("string")
    fused = make_fused_extractor_udf(options.config, options.tenant_configs)
    return fused(F.struct(raw_spans.alias("raw_spans"), tenant.alias("tenant"))).alias("r")


def explode_spans(docs: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """documents -> one row per span (zero-span docs kept with null span).

    ``passthrough`` columns (the tenant id) ride along on every span row
    so downstream regrouping can re-emit them without a join back to the
    source."""
    return docs.select(
        "doc_id", *passthrough, F.posexplode_outer("spans").alias("pos", "span")
    ).select(
        "doc_id",
        *passthrough,
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _fastpath_plan(simple_docs: DataFrame, options: ExtractOptions):
    """Narrow plan for single-text-span documents: no explode, no media
    join, no groupBy — scan partitions flow straight into the fused UDF.
    The raw_spans column is built JVM-side in the same shape the UDF
    expects, so the Python body is byte-identical to the wide path."""
    raw_spans = F.transform(
        F.col("spans"),
        lambda s: F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            F.lit(None).cast("array<string>").alias("pages"),
            F.lit(None).cast("array<string>").alias("ocr_pages"),
        ),
    )
    result = simple_docs.select("doc_id", *_carried(options), _extract(raw_spans, options))
    return _result_rows(result, options)


def _result_rows(result: DataFrame, options: ExtractOptions) -> DataFrame:
    """Flatten the fused UDF's struct ``r`` into result columns (+ the
    opt-in full_text, joined from out_spans as the oracle joins it), then
    the lineage columns, then the carried tenant."""
    carried = _carried(options)
    rows = result.select("doc_id", *carried, "r.*")
    if options.include_full_text:
        rows = rows.withColumn(
            "full_text",
            F.array_join(F.transform("out_spans", lambda s: s["text"]), SPAN_JOIN),
        )
    rows = with_lineage(rows, options.run_id)
    return rows.select(*[c for c in rows.columns if c not in carried], *carried)


def _media_spans(
    spans: DataFrame, media: DataFrame | None, options: ExtractOptions
) -> DataFrame:
    """Media (pdf/image) span rows with their pages joined on media_ref.

    The (doc_id, offset) spread runs BEFORE the join: pre-join span rows
    are ~100 bytes (no page payload yet), so this shuffle is near-free,
    and it is the only spread when the join broadcasts.  A shuffle join's
    own hash on the unique media_ref re-spreads anyway."""
    media_branch = spans.where(F.col("kind").isin(*MEDIA_KINDS)).drop("text")
    if options.spread_partitions:
        media_branch = media_branch.repartition(
            options.spread_partitions, "doc_id", "offset"
        )
    if media is not None:
        media_side = F.broadcast(media) if options.broadcast_media else media
        media_branch = media_branch.join(media_side, on="media_ref", how="left")
    else:
        media_branch = media_branch.withColumn(
            "pages", F.lit(None).cast("array<string>")
        ).withColumn("ocr_pages", F.lit(None).cast("array<string>"))
    return media_branch.select(
        "doc_id", *_carried(options), "kind",
        F.lit(None).cast("string").alias("text"),
        "media_ref", "offset", "pages", "ocr_pages",
    )


def _fused_plan(spans: DataFrame, media: DataFrame | None, options: ExtractOptions):
    """groupBy raw spans (+ joined media pages) first, then decode +
    assemble + extract in ONE Arrow UDF per document."""
    pt = _carried(options)
    text_branch = spans.where(
        F.col("kind").isNull() | ~F.col("kind").isin(*MEDIA_KINDS)
    ).select(
        "doc_id",
        *pt,
        "kind",
        "text",
        "media_ref",
        "offset",
        F.lit(None).cast("array<string>").alias("pages"),
        F.lit(None).cast("array<string>").alias("ocr_pages"),
    )
    unioned = text_branch.unionByName(_media_spans(spans, media, options))

    entry = F.when(
        F.col("kind").isNotNull(),
        F.struct("offset", "kind", "text", "media_ref", "pages", "ocr_pages"),
    )
    # the tenant is constant per doc_id: first() re-emits it from the same
    # wide shuffle — no join back to the source
    grouped = unioned.groupBy("doc_id").agg(
        F.collect_list(entry).alias("raw_spans"),
        *[F.first(c, ignorenulls=False).alias(c) for c in pt],
    )

    result = grouped.select("doc_id", *pt, _extract(F.col("raw_spans"), options))
    return _result_rows(result, options)
