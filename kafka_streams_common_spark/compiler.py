"""Pipeline compiler — lowers a :class:`PipelineDef` into a DataFrame plan.

This is the Spark-first replacement for the reference's
``DynamicTopologyBuilder`` (DynamicTopologyBuilder.java:28-223): where the
reference accumulates a Kafka Streams ``Topology`` DAG by issuing DSL calls
(stream / table / selectKey / join / leftJoin / mapValues / to), we compose
DataFrame transformations and let Catalyst analyze, optimize (join reorder,
pushdown, pruning), and pick physical strategies (broadcast vs sort-merge —
the GlobalKTable analog is an explicit ``broadcast()`` hint).

The working representation inside a chain is a DataFrame holding a ``__key``
column (the Kafka record key analog) plus the current value columns. Each
join step consumes the running key and a right-side table view, then
reshapes the value via the configured field mappings
(DynamicPojoValueJoiner.java:37-66 semantics — see :func:`_project_mappings`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_common_spark.catalog import TableCatalog
from kafka_streams_common_spark.config import (
    AggregationSpec,
    FieldMapping,
    JoinStep,
    JoinType,
    KeyExtraction,
    KeySource,
    MappingSide,
    PipelineDef,
    ProcessingMode,
    validate_pipeline,
)
from kafka_streams_common_spark.registry import SourceRegistry

KEY_COL = "__key"

_JOIN_HOW = {
    JoinType.LEFT_JOIN: "left",
    JoinType.INNER_JOIN: "inner",
    JoinType.FULL_OUTER_JOIN: "full_outer",
}

class BatchCompiler:
    """Compile declarative pipelines to batch DataFrame plans.

    One compiler instance shares a :class:`SourceRegistry` across pipelines,
    so a dimension table referenced by N chains materializes once
    (KTableRegistry.java:26 semantics, J6).
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: TableCatalog,
        udfs: dict | None = None,
        udtfs: dict | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.registry = SourceRegistry(spark, catalog)
        # Bring-your-own-function extension point: the reference sketches
        # FQCN hooks for custom joiners/extractors (commented
        # ``valueJoinerClass`` / ``groupByKeyExtractorClass``,
        # AggregationDefinition.java:24,81-82). Here a config references a
        # registered function BY NAME inside any expression slot (filter,
        # aggregation source_field) — idiomatic Spark UDF registration
        # instead of classpath reflection. Values: plain callables decorated
        # with pandas_udf/udf, or (fn, returnType) pairs.
        for fname, fn in (udfs or {}).items():
            if isinstance(fn, tuple):
                self.spark.udf.register(fname, *fn)
            else:
                self.spark.udf.register(fname, fn)
        # table functions (UDTF): one input row -> many output rows, used
        # in FROM/LATERAL position — the third leg of the UDF/UDAF/UDTF
        # surface (values: classes decorated with @udtf)
        for fname, fn in (udtfs or {}).items():
            self.spark.udtf.register(fname, fn)

    # -- public ------------------------------------------------------------

    def compile(self, pipeline: PipelineDef) -> DataFrame:
        """Config → DataFrame. Mirrors the mode dispatch at
        DynamicTopologyBuilder.java:33-58."""
        p = validate_pipeline(pipeline)
        if p.mode == ProcessingMode.JOIN_CHAIN:
            df = self._compile_join_chain(p)
        elif p.mode == ProcessingMode.AGGREGATION:
            df = self._compile_aggregation(p)
        elif p.mode == ProcessingMode.SIMPLE_STREAM:
            df = self._compile_simple_stream(p)
        else:  # pragma: no cover
            raise ValueError(f"unknown processing mode {p.mode}")
        key_alias = p.output.key_alias if p.output else "key"
        return df.withColumnRenamed(KEY_COL, key_alias)

    def write_output(self, pipeline: PipelineDef, df: DataFrame, root: str) -> None:
        """Batch sink (S4/S5 analog): parquet under ``root/<name>``.

        Sink elision when disabled (DynamicTopologyBuilder.java:61-74);
        ``retention_ms == -1`` (compacted topic) → keep latest row per key
        before writing; ``partitions`` maps to output file parallelism
        (TopicProvisioner.java:33-41 defaults).
        """
        out = pipeline.output
        if out is None or not out.enabled:
            return
        if out.retention_ms == -1:
            df = df.dropDuplicates([out.key_alias])
        df.repartition(out.partitions).write.mode("overwrite").parquet(
            f"{root.rstrip('/')}/{out.name}"
        )

    # -- roots ---------------------------------------------------------------

    def _read_source(self, p: PipelineDef) -> DataFrame:
        """The pipeline's source relation (a stream in ``StreamingCompiler``)."""
        if p.initial_source_is_stream:
            return self.registry.stream(p.source)
        return self.registry.table(p.source)

    def _root(self, p: PipelineDef) -> DataFrame:
        """Source + optional filter + key column (P2 re-key,
        DynamicTopologyBuilder.java:112-126)."""
        df = self._read_source(p)
        if p.filter:
            df = df.filter(p.filter)
        key_col = self._extract_key(df, p.source, p.key_extraction)
        return df.withColumn(KEY_COL, key_col)

    def _extract_key(self, df: DataFrame, source, extraction: KeyExtraction | None) -> Column:
        """DynamicPojoKeyExtractor semantics (DynamicPojoKeyExtractor.java:41-61):
        KEY keeps the source's key column; VALUE promotes a value field.
        A missing field yields a null key with the record retained
        (:46-49 — no filtering on null keys)."""
        if extraction is None or extraction.source == KeySource.KEY:
            return F.col(self.registry.key_field(source))
        if extraction.field_name in df.columns:
            return F.col(extraction.field_name)
        return F.lit(None)

    # -- JOIN_CHAIN ----------------------------------------------------------

    def _compile_join_chain(self, p: PipelineDef) -> DataFrame:
        """Left fold over join steps (buildChainedJoin,
        DynamicTopologyBuilder.java:95-186): the result of step i is the left
        input of step i+1. Expressed as one multi-join DataFrame plan so
        Catalyst sees the whole chain and can reorder/push down."""
        df = self._root(p)
        for step in p.join_operations:
            df = self._apply_join_step(df, step)
        return df

    def _apply_join_step(self, left: DataFrame, step: JoinStep) -> DataFrame:
        if step.key_extraction and step.key_extraction.source == KeySource.VALUE:
            # per-step re-key (selectKey + repartition-topic analog; see
            # JoinStep.key_extraction). The shuffle it implies in Kafka
            # Streams is the Exchange Catalyst inserts for the join below.
            field = step.key_extraction.field_name
            left = left.withColumn(
                KEY_COL, F.col(field) if field in left.columns else F.lit(None)
            )
        right = self.registry.table(step.right)
        right_key = self.registry.key_field(step.right)
        if step.broadcast:
            # GlobalKTable (S3, KTableRegistry.java:52-57): replicate the dim.
            right = F.broadcast(right)
        l, r = left.alias("l"), right.alias("r")
        joined = l.join(
            r,
            on=F.col(f"l.{KEY_COL}") == F.col(f"r.{right_key}"),
            how=_JOIN_HOW[step.join_type],
        )
        key_col = F.col(f"l.{KEY_COL}")
        if step.join_type == JoinType.FULL_OUTER_JOIN:
            # a right-only row has no left key; the running key continues
            # from whichever side matched (Kafka Streams outer-join
            # semantics: output key = the join key, present on either side)
            key_col = F.coalesce(key_col, F.col(f"r.{right_key}"))
        out_cols = [key_col.alias(KEY_COL)]
        out_cols += _project_mappings(step.output_mappings, left.columns, right.columns)
        return joined.select(*out_cols)

    # -- AGGREGATION -----------------------------------------------------------

    def _compile_aggregation(self, p: PipelineDef) -> DataFrame:
        """Generalized A1 (buildCountAggregation design,
        DynamicTopologyBuilder.java:203-221): re-key by the group-by
        extraction, hash-aggregate. Spark's partial aggregation gives the
        map-side combine the reference's per-record state updates lack."""
        df = self._root(p)
        group_key = self._extract_key(df, p.source, p.group_by)
        aggs = [self._agg_column(a) for a in p.aggregations]
        return df.groupBy(group_key.alias(KEY_COL)).agg(*aggs)

    def _agg_column(self, spec: AggregationSpec) -> Column:
        if spec.custom:
            # registered-UDAF-by-name (validated as an identifier); Spark
            # analysis resolves it against the session's function registry
            col = F.expr(f"{spec.fn}({spec.source_field})")
        elif spec.fn == "count" and not spec.source_field:
            col = F.count(F.lit(1))
        else:
            # every name in AggregationSpec._SUPPORTED (checked by
            # validate_pipeline) is the pyspark.sql.functions aggregate of
            # the same name
            col = getattr(F, spec.fn)(F.expr(spec.source_field))
        if spec.cast:
            col = col.cast(spec.cast)
        return col.alias(spec.output_name())

    # -- SIMPLE_STREAM -----------------------------------------------------------

    def _compile_simple_stream(self, p: PipelineDef) -> DataFrame:
        """Pass-through (DynamicTopologyBuilder.java:52-55). The reference's
        ``peek`` logging tap (P6) becomes an ``observe`` metric — semantically
        identity, but row counts surface in query listeners."""
        df = self._root(p)
        return df.observe(f"{p.id}_peek", F.count(F.lit(1)).alias("rows"))


def _project_mappings(
    mappings: tuple[FieldMapping, ...], left_cols: list[str], right_cols: list[str]
) -> list[Column]:
    """Field-mapping projection (P1, DynamicPojoValueJoiner.java:37-66).

    - LEFT/RIGHT side field copied under ``output_field``.
    - Unmatched left join → right side columns are null natively.
    - A field missing from the side's schema → explicit null column
      (DynamicPojoValueJoiner.java:59-63 null-fill contract).
    """
    cols: list[Column] = []
    for m in mappings:
        side_cols = left_cols if m.source == MappingSide.LEFT else right_cols
        prefix = "l" if m.source == MappingSide.LEFT else "r"
        if m.source_field in side_cols:
            cols.append(F.col(f"{prefix}.{m.source_field}").alias(m.output_field))
        else:
            cols.append(F.lit(None).alias(m.output_field))
    return cols
