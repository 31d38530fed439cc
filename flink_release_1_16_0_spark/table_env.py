"""TableEnvironment: the engine's SQL-first entry point.

Re-creates the reference's primary API surface — a SQL string in, a
table (or executed statement) out — on top of a SparkSession:

- ``execute_sql`` mirrors ``TableEnvironmentImpl.executeSql``
  (flink-table/flink-table-api-java/.../internal/TableEnvironmentImpl.java:722):
  DDL (CREATE/DROP TABLE/VIEW per the grammar in
  flink-table/flink-sql-parser/src/main/codegen/data/Parser.tdd:53-57),
  DML (INSERT INTO/OVERWRITE), introspection (SHOW/DESCRIBE/EXPLAIN),
  and queries.
- ``sql_query`` mirrors ``TableEnvironmentImpl.sqlQuery`` (:702).
- :class:`Table` is the fluent Table API
  (OperationTreeBuilder-built ops in the reference,
  flink-table/flink-table-api-java/.../operations/utils/OperationTreeBuilder.java:83).
  Every fluent call lowers to a Spark SQL fragment over the wrapped
  DataFrame — the direct analog of the reference where Table API and
  SQL meet at the same RelNode IR (QueryOperationConverter.java:136);
  here they meet at the same Catalyst plan.

Architecture notes (Spark-first, not a port):

- A ``CREATE TABLE ... WITH ('connector'=...)`` statement becomes a
  DataSource V2 scan via the builders in ``sources/`` — Spark's reader
  already implements every push-down ability the reference declares
  (SupportsFilterPushDown / ProjectionPushDown / PartitionPushDown /
  LimitPushDown), so the catalog entry only records schema + options.
- Watermark DDL (``WATERMARK FOR ts AS ts - INTERVAL '5' SECOND``)
  compiles to ``withWatermark`` on streaming scans — the bounded
  out-of-orderness strategy (WatermarkStrategy.java:210).
- NOT NULL / CHAR(n) column constraints are enforced on INSERT through
  ``operators.sink.enforce_constraints`` (ConstraintEnforcer.java).
- Computed columns (``name AS expr``) are projections appended to the
  scan; ``PROCTIME()`` maps to ``current_timestamp()`` (processing-time
  attribute; documented divergence: Spark evaluates it per-batch).
"""

from __future__ import annotations

import dataclasses
import os
import re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructType

from flink_release_1_16_0_spark.functions.sql_udfs import register_sql_functions
from flink_release_1_16_0_spark.operators.grouped import grouped_apply
from flink_release_1_16_0_spark.operators.sink import enforce_constraints
from flink_release_1_16_0_spark.sources import file_source

# ---------------------------------------------------------------------------
# Flink DDL type -> Spark SQL type (SURVEY.md section 1.2 mapping table)
# ---------------------------------------------------------------------------

_SIMPLE_TYPES = {
    "STRING": "string",
    "BOOLEAN": "boolean",
    "BYTES": "binary",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "DOUBLE PRECISION": "double",
    "DATE": "date",
    "RAW": "binary",
}


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on `sep` at bracket depth 0 ((), <>, and quoted strings)."""
    parts, depth, buf, in_str = [], 0, [], False
    for ch in s:
        if in_str:
            buf.append(ch)
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
            buf.append(ch)
        elif ch in "(<":
            depth += 1
            buf.append(ch)
        elif ch in ")>":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def flink_type_to_spark(t: str) -> tuple[str, int | None]:
    """Map a Flink DDL type to (spark type DDL, char_limit or None).

    The char limit is returned separately because Spark has no CHAR(n)
    runtime semantics — length enforcement happens at the sink
    (ConstraintEnforcer.java), per the reference.
    """
    t = " ".join(t.strip().split())
    up = t.upper()
    if up in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[up], None
    m = re.fullmatch(r"(CHAR|VARCHAR)\s*\(\s*(\d+)\s*\)", up)
    if m:
        return "string", int(m.group(2))
    m = re.fullmatch(r"(?:BINARY|VARBINARY)\s*\(\s*\d+\s*\)", up)
    if m:
        return "binary", None
    m = re.fullmatch(r"(?:DECIMAL|NUMERIC|DEC)\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)", up)
    if m:
        return f"decimal({m.group(1)},{m.group(2) or 0})", None
    if up in ("DECIMAL", "NUMERIC", "DEC"):
        return "decimal(10,0)", None
    m = re.fullmatch(r"TIMESTAMP\s*(?:\(\s*\d+\s*\))?", up)
    if m:
        # TIMESTAMP(p) WITHOUT TIME ZONE; precision 9 accepted as micros
        return "timestamp_ntz", None
    m = re.fullmatch(
        r"(?:TIMESTAMP\s*(?:\(\s*\d+\s*\))?\s+WITH\s+LOCAL\s+TIME\s+ZONE"
        r"|TIMESTAMP_LTZ\s*(?:\(\s*\d+\s*\))?)",
        up,
    )
    if m:
        return "timestamp", None
    m = re.fullmatch(r"TIME\s*(?:\(\s*\d+\s*\))?", up)
    if m:
        # TIME has no Spark runtime type: store millis-of-day (SURVEY 1.2)
        return "int", None
    m = re.fullmatch(r"ARRAY\s*<(.+)>", t, re.IGNORECASE | re.DOTALL)
    if m:
        inner, _ = flink_type_to_spark(m.group(1))
        return f"array<{inner}>", None
    m = re.fullmatch(r"MULTISET\s*<(.+)>", t, re.IGNORECASE | re.DOTALL)
    if m:
        # Flink's own runtime encoding for multisets: element -> count
        inner, _ = flink_type_to_spark(m.group(1))
        return f"map<{inner},int>", None
    m = re.fullmatch(r"MAP\s*<(.+)>", t, re.IGNORECASE | re.DOTALL)
    if m:
        k, v = _split_top_level(m.group(1))
        return (
            f"map<{flink_type_to_spark(k)[0]},{flink_type_to_spark(v)[0]}>",
            None,
        )
    m = re.fullmatch(r"ROW\s*[<(](.+)[>)]", t, re.IGNORECASE | re.DOTALL)
    if m:
        fields = []
        for f_ in _split_top_level(m.group(1)):
            fname, ftype = f_.split(None, 1)
            fields.append(f"{fname}:{flink_type_to_spark(ftype)[0]}")
        return "struct<" + ",".join(fields) + ">", None
    raise ValueError(f"unsupported Flink type in DDL: {t!r}")


# ---------------------------------------------------------------------------
# Catalog model
# ---------------------------------------------------------------------------


@dataclass
class ColumnSpec:
    name: str
    spark_type: str
    not_null: bool = False
    char_limit: int | None = None


# filesystem-connector readable metadata (FileSystemTableSource's
# SupportsReadingMetadata keys) -> Spark's hidden _metadata struct
_METADATA_FIELDS = {
    "file.path": "_metadata.file_path",
    "file.name": "_metadata.file_name",
    "file.size": "_metadata.file_size",
    "file.modification-time": "_metadata.file_modification_time",
}


@dataclass
class CatalogTable:
    """A connector table created via DDL (CatalogManager equivalent,
    TableEnvironmentImpl.java:498-504)."""

    name: str
    columns: list[ColumnSpec]
    computed: list[tuple[str, str]] = field(default_factory=list)  # (name, expr)
    watermark: tuple[str, str] | None = None  # (col, "N seconds")
    primary_key: list[str] = field(default_factory=list)
    partitioned_by: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    database: str = "default_database"
    catalog: str = "default_catalog"
    # ANALYZE TABLE results (row_count, per-column ndv/null_count);
    # informational — Spark's AQE re-derives runtime stats itself
    stats: dict[str, object] = field(default_factory=dict)
    # ALTER TABLE ... ADD PARTITION (spec) LOCATION 'uri' — partitions
    # whose data lives OUTSIDE the table path (SqlAddPartitions.java in
    # flink-sql-parser-hive; Hive external partitions). Each entry is
    # (spec dict, location). Partitions under the table path need no
    # registration: the scan's hive-style directory discovery finds
    # them. DROP PARTITION removes the entry (external: data kept, like
    # Hive) or physically deletes the in-place partition directory
    # (managed-table semantics) / logically truncates it via an
    # overwrite manifest on manifest-committed tables — so a later
    # INSERT recreates the partition naturally, exactly like Hive.
    extra_partitions: list = field(default_factory=list)

    @property
    def connector(self) -> str:
        return self.options.get("connector", "filesystem")

    def _apply_partition_ddl(self, spark, df, fmt, streaming, opts):
        """Fold ADD PARTITION ... LOCATION / DROP PARTITION registry
        entries into the scan: external-location partitions union in
        (data columns read from the location, partition values injected
        as typed literals — Hive's external-partition read)."""
        types = {c.name: c.spark_type for c in self.columns}
        data_ddl = ", ".join(
            f"{c.name} {c.spark_type}"
            for c in self.columns
            if c.name not in self.partitioned_by
        )
        for spec, loc in self.extra_partitions:
            part = file_source(
                spark, loc, fmt=fmt, schema=data_ddl, streaming=streaming, **opts
            )
            for pcol in self.partitioned_by:
                part = part.withColumn(
                    pcol, F.lit(spec.get(pcol)).cast(types[pcol])
                )
            df = df.unionByName(part.select(*df.columns))
        return df

    def schema_ddl(self) -> str:
        return ", ".join(f"{c.name} {c.spark_type}" for c in self.columns)

    def scan(self, spark: SparkSession, streaming: bool) -> DataFrame:
        opts = dict(self.options)
        connector = opts.pop("connector", "filesystem")
        changelog_mode = opts.pop("changelog-mode", None)
        upsert_order = opts.pop("upsert.order-column", None)
        if connector == "filesystem":
            path = opts.pop("path")
            fmt = opts.pop("format", "parquet")
            if fmt in ("debezium-json", "canal-json", "maxwell-json", "ogg-json"):
                # CDC envelope lines -> changelog rows with __rowkind
                from flink_release_1_16_0_spark.sources import formats as FMT

                decode = {
                    "debezium-json": FMT.debezium_json_to_changelog,
                    "canal-json": FMT.canal_json_to_changelog,
                    "maxwell-json": FMT.maxwell_json_to_changelog,
                    "ogg-json": FMT.ogg_json_to_changelog,
                }[fmt]
                raw = file_source(
                    spark,
                    path,
                    fmt="text",
                    schema="value string",
                    streaming=streaming,
                    **opts,
                )
                df = decode(raw, "value", self.schema_ddl())
            elif fmt == "raw":
                # raw format (RawFormatFactory.java:56): exactly one
                # physical column, STRING (one row per line, the text
                # source) or BYTES (whole file as one value, binaryFile)
                if len(self.columns) != 1:
                    raise ValueError("'raw' format requires a single-column schema")
                col = self.columns[0]
                if col.spark_type.lower() in ("binary", "bytes", "varbinary"):
                    df = (
                        spark.read.format("binaryFile")
                        .load(path)
                        .select(F.col("content").alias(col.name))
                    )
                    if streaming:
                        raise ValueError("raw BYTES source is bounded (binaryFile)")
                else:
                    raw = file_source(
                        spark,
                        path,
                        fmt="text",
                        schema="value string",
                        streaming=streaming,
                        **opts,
                    )
                    df = raw.select(
                        F.col("value").cast(col.spark_type).alias(col.name)
                    )
            elif self._commit_protocol() == "manifest":
                df = self._manifest_scan(spark, path, fmt, streaming, opts)
            else:
                df = file_source(
                    spark,
                    path,
                    fmt=fmt,
                    schema=self.schema_ddl(),
                    streaming=streaming,
                    partition_cols=list(self.partitioned_by),
                    **opts,
                )
            if self.extra_partitions:
                df = self._apply_partition_ddl(spark, df, fmt, streaming, opts)
        elif connector in ("kafka", "upsert-kafka"):
            # full DDL option translation (KafkaConnectorOptions.java)
            # lives in kafka_options_from_ddl — unit-tested jar-free
            from flink_release_1_16_0_spark.sources import kafka_options_from_ddl

            reader_opts = kafka_options_from_ddl(
                {
                    k: v
                    for k, v in opts.items()
                    if k == "topic"
                    or k == "topic-pattern"
                    or k.startswith(("properties.", "scan.startup"))
                }
            )
            reader_opts.update(
                {k: v for k, v in opts.items() if k.startswith("kafka.")}
            )
            df = (
                spark.readStream.format("kafka").options(**reader_opts).load()
            )
        elif connector == "datagen":
            if not streaming:
                raise ValueError("datagen connector requires streaming mode")
            from flink_release_1_16_0_spark.sources import rate_source

            df = rate_source(spark)
        elif connector == "jdbc":
            # Flink JdbcDynamicTableFactory DDL options -> Spark JDBC
            # reader options (scan.partition.* = the range-split scan).
            if streaming:
                raise ValueError(
                    "jdbc connector is a bounded scan / lookup source "
                    "(same as the reference's JDBC connector)"
                )
            from flink_release_1_16_0_spark.sources.jdbc import jdbc_source

            num = opts.pop("scan.partition.num", None)
            lo = opts.pop("scan.partition.lower-bound", None)
            hi = opts.pop("scan.partition.upper-bound", None)
            df = jdbc_source(
                spark,
                url=opts.pop("url"),
                table=opts.pop("table-name"),
                driver=opts.pop("driver", None),
                partition_column=opts.pop("scan.partition.column", None),
                num_partitions=int(num) if num else None,
                lower_bound=int(lo) if lo else None,
                upper_bound=int(hi) if hi else None,
                **{k: v for k, v in opts.items() if k in ("user", "password")},
            )
            # Derby upper-cases unquoted identifiers; restore the DDL's
            # declared column names/order so downstream SQL matches.
            if [c.name for c in self.columns] and len(df.columns) == len(
                self.columns
            ):
                df = df.toDF(*[c.name for c in self.columns])
        elif connector == "hive":
            # Hive catalog connector (flink-connectors/flink-connector-hive,
            # HiveDynamicTableFactory): the table lives in the engine's
            # session catalog — backed by the Hive metastore (embedded
            # Derby) when the SparkSession was built with
            # enableHiveSupport, the in-memory session catalog otherwise.
            # Scanning through spark.table() keeps metastore partition
            # pruning native.
            if streaming:
                raise ValueError(
                    "hive connector is a bounded (batch) scan source, "
                    "same as the reference's HiveSource in batch mode"
                )
            tbl = opts.pop("table-name", self.name)
            # fully qualify so resolution hits the catalog table, not
            # the engine's same-named temp view (which would otherwise
            # make this scan self-referential on refresh)
            df = spark.table(
                f"spark_catalog.{spark.catalog.currentDatabase()}.{tbl}"
            )
        else:
            raise ValueError(
                f"unsupported connector {connector!r} for scans "
                "(supported: filesystem, kafka, upsert-kafka, datagen, jdbc, hive)"
            )
        for cname, expr in self.computed:
            if expr.startswith("@metadata:"):
                _, key, styp = expr.split(":", 2)
                fld = _METADATA_FIELDS.get(key)
                if fld is None:
                    raise ValueError(
                        f"unsupported metadata key {key!r} "
                        f"(supported: {sorted(_METADATA_FIELDS)})"
                    )
                if connector != "filesystem":
                    raise ValueError(
                        "METADATA columns are supported on filesystem scans"
                    )
                df = df.withColumn(cname, F.col(fld).cast(styp))
                continue
            df = df.withColumn(
                cname,
                F.expr(_rewrite_flink_cast_types(_rewrite_proctime(expr))),
            )
        if changelog_mode == "upsert":
            # upsert source (upsert-kafka semantics): the planner pairs
            # it with ChangelogNormalize — here upsert_to_retract, the
            # delta-emission half, expands each upsert into -U/+U (and
            # -D payloads from "state"). Rows may carry an explicit
            # __rowkind (+I/+U/-D); unmarked rows are upserts.
            from flink_release_1_16_0_spark.streaming.changelog import (
                ROWKIND,
                to_changelog,
                upsert_to_retract,
            )

            if not self.primary_key:
                raise ValueError("changelog-mode=upsert requires a PRIMARY KEY")
            if not upsert_order:
                raise ValueError(
                    "changelog-mode=upsert requires 'upsert.order-column' "
                    "(the per-key version order, e.g. an event time — the "
                    "role kafka offsets play for upsert-kafka)"
                )
            if ROWKIND not in df.columns:
                df = to_changelog(df)
            df = (
                upsert_to_retract(
                    df.withColumn("__seq", F.lit(0)),
                    keys=self.primary_key,
                    ts_col=upsert_order,
                    seq_col="__seq",
                )
                .drop("__seq")
            )
        if streaming and self.watermark is not None:
            col, delay = self.watermark
            df = df.withWatermark(col, delay)
        return df

    def write(
        self, df: DataFrame, overwrite: bool, output_mode: str = "append"
    ) -> None:
        not_null = [c.name for c in self.columns if c.not_null]
        char_limits = {
            c.name: c.char_limit for c in self.columns if c.char_limit is not None
        }
        out = enforce_constraints(df, not_null=not_null, char_limits=char_limits)
        if out.isStreaming:
            return self._write_stream(out, output_mode)
        connector = self.connector
        if connector == "print":
            out.show(truncate=False)
            return
        if connector == "blackhole":
            out.write.format("noop").mode("overwrite").save()
            return
        if connector == "filesystem":
            fmt = self.options.get("format", "parquet")
            if fmt in ("debezium-json", "canal-json", "maxwell-json", "ogg-json"):
                # changelog-encoding sink (the reference's
                # *JsonSerializationSchema side): each row serializes to
                # one envelope line; a plain append-only input encodes
                # as all-inserts
                from flink_release_1_16_0_spark.sources import formats as FMT
                from flink_release_1_16_0_spark.streaming.changelog import (
                    INSERT as _INS,
                    ROWKIND as _RK,
                )

                encode = {
                    "debezium-json": FMT.changelog_to_debezium_json,
                    "canal-json": FMT.changelog_to_canal_json,
                    "maxwell-json": FMT.changelog_to_maxwell_json,
                    "ogg-json": FMT.changelog_to_ogg_json,
                }[fmt]
                src = out
                if _RK not in src.columns:
                    src = src.withColumn(_RK, F.lit(_INS))
                encode(src).write.format("text").mode(
                    "overwrite" if overwrite else "append"
                ).save(self.options["path"])
                return
            if fmt in ("avro", "protobuf"):
                # jar-free formats: distributed pure-Python encoders
                # (one file per partition, written on the executors;
                # PARTITIONED BY lays out Hive-style col=val dirs)
                pcols = list(self.partitioned_by)
                if fmt == "avro":
                    from flink_release_1_16_0_spark.sources.avro_format import (
                        write_avro,
                    )

                    write_avro(
                        out,
                        self.options["path"],
                        overwrite=overwrite,
                        partition_cols=pcols,
                    )
                else:
                    from flink_release_1_16_0_spark.sources.protobuf_format import (
                        write_protobuf,
                    )

                    if overwrite:
                        p = self.options["path"]
                        for root, _dirs, fs in os.walk(p):
                            for f in fs:
                                if f.endswith(".pb"):
                                    os.remove(os.path.join(root, f))
                    write_protobuf(
                        out, self.options["path"], partition_cols=pcols
                    )
                return
            if self._has_commit_policy() or self._commit_protocol() == "manifest":
                # partition-commit / manifest tables write through a
                # per-job staging dir and a commit protocol
                # (PartitionTempFileManager / FileSystemCommitter): the
                # commit set is exactly the files THIS job produced — a
                # concurrent writer into the same path can never be
                # co-committed
                self._commit_partitions(self._stage_and_move(out, fmt, overwrite))
                return
            writer = out.write.format(fmt).options(**self._format_extra_opts()).mode(
                "overwrite" if overwrite else "append"
            )
            if self.partitioned_by:
                writer = writer.partitionBy(*self.partitioned_by)
                if overwrite:
                    # INSERT OVERWRITE on a partitioned table replaces
                    # only the partitions receiving data (the reference's
                    # FileSystemTableSink overwrite groups by partition —
                    # a static PARTITION (p='v') spec or dynamic values
                    # never wipe sibling partitions); Spark's default
                    # "static" mode would truncate the whole path
                    writer = writer.option("partitionOverwriteMode", "dynamic")
            writer.save(self.options["path"])
            return
        if connector == "jdbc":
            from flink_release_1_16_0_spark.sources.jdbc import jdbc_write

            jdbc_write(
                out,
                url=self.options["url"],
                table=self.options["table-name"],
                mode="overwrite" if overwrite else "append",
                driver=self.options.get("driver"),
            )
            return
        if connector == "hive":
            tbl = self.options.get("table-name", self.name)
            if out.sparkSession.catalog.tableExists(tbl):
                # positional insert into the EXISTING catalog table:
                # honors its partition AND bucket spec (saveAsTable in
                # append mode rejects bucketed targets, and in overwrite
                # mode would REPLACE the table, dropping the spec).
                # insertInto matches by POSITION and Spark stores
                # partition columns last — reorder to the catalog order
                w = out.select(*out.sparkSession.table(tbl).columns).write
                if overwrite and self.partitioned_by:
                    # per-partition overwrite, as on the filesystem sink
                    # (session conf — the writer option is not honored
                    # on the insertInto path)
                    conf = out.sparkSession.conf
                    key = "spark.sql.sources.partitionOverwriteMode"
                    prev = conf.get(key)
                    conf.set(key, "dynamic")
                    try:
                        w.insertInto(tbl, overwrite=True)
                    finally:
                        conf.set(key, prev)
                else:
                    w.insertInto(tbl, overwrite=overwrite)
                return
            writer = out.write.mode("overwrite" if overwrite else "append")
            if self.partitioned_by:
                writer = writer.partitionBy(*self.partitioned_by)
                if overwrite:
                    writer = writer.option("partitionOverwriteMode", "dynamic")
            writer.saveAsTable(tbl)
            return
        raise ValueError(
            f"unsupported sink connector {connector!r} "
            "(supported: filesystem, print, blackhole, jdbc, hive)"
        )

    def _has_commit_policy(self) -> bool:
        return bool(
            self.options.get("sink.partition-commit.policy.kind", "").strip()
        )

    def _format_extra_opts(self) -> dict[str, str]:
        """Pass-through format options (e.g. csv 'sep') so reads and
        writes agree — the scan side forwards everything beyond the
        engine-reserved keys, and every write path must match."""
        return {
            k: v
            for k, v in self.options.items()
            if k
            not in (
                "connector", "path", "format", "changelog-mode",
                "upsert.order-column", "checkpoint",
            )
            and not k.startswith("sink.")
        }

    def _commit_protocol(self) -> str:
        return self.options.get("sink.commit-protocol", "rename").strip().lower()

    def _manifest_scan(self, spark, base, fmt, streaming, opts) -> DataFrame:
        """Scan a manifest-committed table: exactly the manifest-listed
        files are visible — orphan data files from crashed or in-flight
        writers are not (the table-format read contract). ``basePath``
        keeps hive-style partition columns resolvable from the explicit
        file list."""
        from flink_release_1_16_0_spark.sources.commit_protocol import (
            manifest_live_files,
        )

        if streaming:
            raise ValueError(
                "manifest-committed tables are batch scans here: a "
                "streaming tail would race the manifest log (tail the "
                "log itself, not the directory)"
            )
        live = manifest_live_files(base)
        schema = self.schema_ddl()
        if not live:
            return spark.createDataFrame([], schema)
        ropts = {k: v for k, v in opts.items() if not k.startswith("sink.")}
        return (
            spark.read.schema(schema)
            .format(fmt)
            .options(**ropts)
            .option("basePath", base)
            .load(live)
        )

    def _stage_and_move(
        self,
        batch_df: DataFrame,
        fmt: str,
        overwrite: bool,
    ) -> list[str]:
        """Write through a per-job staging directory under the sink path
        and commit the produced files — the reference's
        PartitionTempFileManager (task files land in a job-scoped temp
        dir) + FileSystemCommitter.java (commit derives the partition
        set from the job's OWN files). Returns the relative partition
        paths this job produced (``[""]`` for an unpartitioned sink);
        files from any concurrent writer are never in the staging dir,
        so they can never be co-committed. ``overwrite`` replaces only
        the produced partitions (dynamic-overwrite semantics, the
        reference's grouped overwrite).

        The commit step is a protocol seam
        (:mod:`~flink_release_1_16_0_spark.sources.commit_protocol`):
        ``'sink.commit-protocol'='rename'`` (default) moves files into
        place — atomic on POSIX/HDFS, WEAK on object stores where rename
        is copy+delete; ``'manifest'`` publishes an atomic manifest over
        uniquely-named final files (the table-format pattern) and the
        scan resolves the manifest log instead of listing directories."""
        from flink_release_1_16_0_spark.sources.commit_protocol import (
            manifest_commit,
            rename_commit,
        )

        base = self.options["path"]
        staging = os.path.join(base, f".staging-{uuid.uuid4().hex}")
        pcols = list(self.partitioned_by)
        w = batch_df.write.format(fmt).options(**self._format_extra_opts()).mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.save(staging)
        rels: list[str] = []
        if pcols:

            def collect(d: str, level: int, rel: tuple[str, ...]) -> None:
                if level == len(pcols):
                    if any(
                        e.is_file() and not e.name.startswith((".", "_"))
                        for e in os.scandir(d)
                    ):
                        rels.append("/".join(rel))
                    return
                for e in os.scandir(d):
                    if e.is_dir() and "=" in e.name:
                        collect(e.path, level + 1, rel + (e.name,))

            collect(staging, 0, ())
        else:
            rels = [""]
        proto = self._commit_protocol()
        if proto == "manifest":
            auto_vacuum = self.options.get(
                "sink.log.auto-vacuum", "false"
            ).strip().lower() in ("true", "1")
            if auto_vacuum:
                # parse BEFORE the commit: a malformed option must fail
                # fast at write start, never after the manifest is
                # durable (an acknowledged commit surfacing as a failure
                # invites a duplicate-data retry)
                keep = int(self.options.get("sink.log.keep-checkpoints", "2"))
            manifest_commit(base, staging, rels, overwrite)
            if auto_vacuum:
                # storage bound applied post-commit: best-effort derived
                # maintenance, never a commit failure (the commit above
                # is already durable and acknowledged-able)
                from flink_release_1_16_0_spark.sources.commit_protocol import (
                    manifest_vacuum,
                )

                try:
                    manifest_vacuum(base, keep_checkpoints=keep)
                except OSError:
                    pass
        elif proto == "rename":
            rename_commit(base, staging, rels, overwrite)
        else:
            raise ValueError(
                f"unknown 'sink.commit-protocol' {proto!r} "
                "(supported: rename, manifest)"
            )
        return sorted(rels)

    def _commit_log_paths(self) -> set[str]:
        """Every committed data-file path currently recorded in the
        native file sink's ``_spark_metadata`` commit log. Read in full
        (including ``.compact`` files, which fold all history) so a
        before/after DIFF of this set is exactly the files THIS
        execution committed — diffing log FILENAMES would over-commit
        whenever a compaction rewrites history into one new file."""
        import json as _json

        meta = os.path.join(self.options["path"].rstrip("/"), "_spark_metadata")
        paths: set[str] = set()
        if not os.path.isdir(meta):
            return paths
        for fn in os.listdir(meta):
            if fn.startswith("."):
                continue
            full = os.path.join(meta, fn)
            if not os.path.isfile(full):
                continue
            with open(full) as fh:
                for line in fh:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    try:
                        p = _json.loads(line).get("path", "")
                    except ValueError:
                        continue
                    if p:
                        paths.add(p)
        return paths

    def _commit_log_partitions(self, before: set[str]) -> list[str]:
        """Partition set of the files the commit log gained during THIS
        execution (``before`` = the committed-path snapshot at start) —
        the sink's own exact manifest, the streaming analogue of the
        staging-dir protocol."""
        base = self.options["path"].rstrip("/")
        depth = len(self.partitioned_by)
        rels: set[str] = set()
        for p in self._commit_log_paths() - before:
            if "://" in p:  # file:///x/y -> /x/y
                p = "/" + p.split("://", 1)[1].lstrip("/")
            idx = p.find(base)
            if idx < 0:
                continue
            rel_dir = os.path.dirname(p[idx + len(base):]).strip("/")
            segs = [s for s in rel_dir.split("/") if "=" in s]
            if depth == 0:
                rels.add("")
            elif len(segs) >= depth:
                rels.add("/".join(segs[:depth]))
        return sorted(rels)

    def _commit_partitions(self, rel_paths: list[str]) -> None:
        """Apply ``sink.partition-commit.policy.kind`` policies
        (FileSystemConnectorOptions.java:201): 'success-file' touches
        the marker (name from sink.partition-commit.success-file.name,
        default _SUCCESS — SuccessFileCommitPolicy.java:33) in each
        committed partition directory; 'metastore' is a no-op for a
        pathless filesystem table (MetastoreCommitPolicy applies to
        hive-catalog tables, where saveAsTable already registers the
        partitions)."""
        kinds = [
            k.strip()
            for k in self.options.get(
                "sink.partition-commit.policy.kind", ""
            ).split(",")
            if k.strip()
        ]
        if "success-file" not in kinds:
            return
        name = self.options.get(
            "sink.partition-commit.success-file.name", "_SUCCESS"
        )
        base = self.options["path"]
        for rel in rel_paths:
            d = os.path.join(base, rel) if rel else base
            if os.path.isdir(d):
                with open(os.path.join(d, name), "w"):
                    pass

    def _write_stream(self, out: DataFrame, output_mode: str = "append") -> None:
        """Streaming INSERT: bounded availableNow drain into the sink.

        ``output_mode='update'`` is the early-fire path
        (GroupWindowAggregate with table.exec.emit.early-fire.enabled —
        WindowEmitStrategy.scala): each micro-batch appends the CHANGED
        window partials, so the sink carries each window's partial
        history and the latest row per window key is the converged
        value (an upsert consumer keeps-last per key, exactly how the
        reference pairs early-fire with an upsert sink).

        Each streaming ``INSERT INTO`` runs as a FRESH job processing its
        full input, matching the reference where every INSERT statement
        submits a new job (TableEnvironmentImpl.executeInternal:812). Two
        Spark mechanisms would silently break that if reused across
        statements: a shared checkpointLocation resumes the previous
        statement's source offsets, and the file sink's ``_spark_metadata``
        commit log marks batch 0 committed so a fresh-checkpoint rerun
        skips its write entirely. So the filesystem sink appends via
        ``foreachBatch`` batch writes (no ``_spark_metadata``) under a
        per-execution checkpoint. Resumable exactly-once is still
        available by passing an explicit ``'checkpoint'`` sink option,
        which selects the native file sink + commit log.
        """
        connector = self.connector
        # partition-commit bookkeeping for the filesystem paths:
        # foreachBatch accumulates the staged-move manifests per batch;
        # the native sink's _spark_metadata log is diffed after the run
        committed: set[str] = set()
        meta_before: set[str] = set()
        if connector == "blackhole":
            writer = out.writeStream.format("noop")
        elif connector == "filesystem":
            path = self.options["path"]
            fmt = self.options.get("format", "parquet")
            partitions = list(self.partitioned_by)
            if "checkpoint" in self.options:
                if self._commit_protocol() == "manifest":
                    # the native file sink tracks its files in
                    # _spark_metadata, not the manifest log — a manifest
                    # reader would see nothing this sink writes
                    raise ValueError(
                        "'sink.commit-protocol'='manifest' requires the "
                        "foreachBatch streaming sink (remove the "
                        "'checkpoint' option): each micro-batch publishes "
                        "its own manifest"
                    )
                if output_mode != "append":
                    # the native file sink is append-only in Spark; an
                    # early-fire / allowed-lateness emit (update mode)
                    # must use the foreachBatch sink — fail with a clear
                    # message instead of Spark's late AnalysisException
                    raise ValueError(
                        "early-fire/allowed-lateness emit (output_mode="
                        f"{output_mode!r}) requires the foreachBatch "
                        "filesystem sink; remove the 'checkpoint' option "
                        "(Spark's native file sink supports Append only)"
                    )
                # explicit opt-in: resumable exactly-once via the native
                # file sink's _spark_metadata commit log
                if self._has_commit_policy():
                    meta_before = self._commit_log_paths()
                writer = (
                    out.writeStream.format(fmt)
                    .options(**self._format_extra_opts())
                    .option("path", path)
                    .option("checkpointLocation", self.options["checkpoint"])
                )
                if partitions:
                    writer = writer.partitionBy(*partitions)
            else:
                # manifest tables ALWAYS stage: each micro-batch
                # publishes its own manifest, so readers only ever see
                # committed batches (a direct append would write files
                # the manifest scan can never resolve)
                stage = (
                    self._has_commit_policy()
                    or self._commit_protocol() == "manifest"
                )

                def _append(batch_df: DataFrame, _batch_id: int) -> None:
                    if stage:
                        # per-batch staged move: the manifest is exactly
                        # this batch's files (foreachBatch runs on the
                        # driver, so the accumulation is single-threaded)
                        committed.update(
                            self._stage_and_move(batch_df, fmt, overwrite=False)
                        )
                        return
                    w = (
                        batch_df.write.format(fmt)
                        .options(**self._format_extra_opts())
                        .mode("append")
                    )
                    if partitions:
                        w = w.partitionBy(*partitions)
                    w.save(path)

                writer = out.writeStream.foreachBatch(_append).option(
                    "checkpointLocation",
                    f"{path.rstrip('/')}/.checkpoints/exec_{uuid.uuid4().hex}",
                )
        elif connector == "hive":
            # streaming write into the catalog-managed table (the
            # reference's Hive streaming sink, partition-commit on
            # checkpoint): per-batch saveAsTable appends under a
            # per-execution checkpoint, same fresh-job discipline as
            # the filesystem sink
            tbl = self.options.get("table-name", self.name)
            partitions = list(self.partitioned_by)

            def _append_tbl(batch_df: DataFrame, _batch_id: int) -> None:
                # insertInto (positional) — the foreachBatch idiom for
                # existing catalog tables; partitioning comes from the
                # table definition
                batch_df.write.insertInto(tbl, overwrite=False)

            wh = out.sparkSession.conf.get(
                "spark.sql.warehouse.dir", "/tmp"
            ).rstrip("/")
            writer = out.writeStream.foreachBatch(_append_tbl).option(
                "checkpointLocation",
                f"{wh}/.checkpoints/{tbl}_exec_{uuid.uuid4().hex}",
            )
        else:
            raise ValueError(
                f"unsupported streaming sink connector {connector!r} "
                "(supported: filesystem, blackhole, hive)"
            )
        from flink_release_1_16_0_spark.streaming.core import _drain, _start, _timeout

        # a failed or timed-out drain raises, so neither looks like an
        # empty success and neither commits a partition
        _drain(_start(out, writer.outputMode(output_mode)), _timeout())
        # partition-commit at end-of-input (PartitionCommitter's
        # finite-stream endInput path), derived from the files this
        # execution wrote: the foreachBatch sink's accumulated
        # staged-move manifests, or the native sink's own
        # _spark_metadata commit-log delta — never an mtime scan, so
        # a concurrent writer is never co-committed
        if connector == "filesystem" and self._has_commit_policy():
            if "checkpoint" in self.options:
                committed.update(self._commit_log_partitions(meta_before))
            self._commit_partitions(sorted(committed))


def _rewrite_proctime(expr: str) -> str:
    return re.sub(r"PROCTIME\s*\(\s*\)", "current_timestamp()", expr, flags=re.I)


def _rewrite_flink_cast_types(expr: str) -> str:
    """Map Flink spellings inside computed-column expressions onto
    Spark's: CAST targets TIMESTAMP(p) -> TIMESTAMP_NTZ /
    TIMESTAMP_LTZ(p) -> TIMESTAMP (flink_type_to_spark's mapping, µs
    substrate), and the epoch form ``TO_TIMESTAMP_LTZ(n[, p])`` ->
    timestamp_seconds/millis/micros — Spark 4 ships a SAME-NAMED
    builtin with string-parsing semantics, so the Flink form must be
    rewritten, not registered (functions/sql_udfs.py note)."""

    def _to_ltz(args: list[str]) -> str:
        p = args[1].strip() if len(args) > 1 else "3"
        fn = {"0": "timestamp_seconds", "3": "timestamp_millis", "6": "timestamp_micros"}.get(p)
        if fn is None:
            raise ValueError(
                f"TO_TIMESTAMP_LTZ precision {p!r} unsupported (0/3/6)"
            )
        return f"{fn}(CAST({args[0]} AS BIGINT))"

    expr = _replace_call(expr, "TO_TIMESTAMP_LTZ", _to_ltz)
    expr = re.sub(
        r"\bTIMESTAMP_LTZ\s*\(\s*\d+\s*\)", "TIMESTAMP", expr, flags=re.I
    )
    expr = re.sub(
        r"\bTIMESTAMP\s*\(\s*\d+\s*\)", "TIMESTAMP_NTZ", expr, flags=re.I
    )
    return expr


# ---------------------------------------------------------------------------
# Window TVF dialect: TABLE(TUMBLE/HOP(TABLE t, DESCRIPTOR(ts), ...))
# ---------------------------------------------------------------------------

_INTERVAL_RE = re.compile(r"INTERVAL\s+'([\d.]+)'\s+(\w+)", re.IGNORECASE)
_TVF_RE = re.compile(
    r"TABLE\s*\(\s*(TUMBLE|HOP|CUMULATE)\s*\(\s*TABLE\s+([\w.]+)\s*,\s*"
    r"DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*([^)]*(?:\([^)]*\)[^)]*)*)\)\s*\)",
    re.IGNORECASE,
)


_UNIT_SECONDS = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}


def _interval_parts(text: str) -> tuple[str, str]:
    """('5', 'MINUTE') from an INTERVAL literal."""
    m = _INTERVAL_RE.search(text)
    if not m:
        raise ValueError(f"cannot parse window INTERVAL in {text!r}")
    unit = m.group(2).upper().rstrip("S")
    if unit not in _UNIT_SECONDS:
        raise ValueError(f"unsupported window interval unit {m.group(2)!r}")
    return m.group(1), unit


def _interval_str(text: str) -> str:
    n, unit = _interval_parts(text)
    return f"{n} {unit.lower()}s"


def _replace_call(sql: str, name: str, repl, skip_if_table: bool = False) -> str:
    """Replace every ``name( <balanced args> )`` call with
    ``repl(args_list)``; ``skip_if_table`` leaves windowing-TVF forms
    (first arg starts with TABLE) for the TVF rewriter."""
    out, i = [], 0
    pat = re.compile(rf"(?<![\w_]){name}\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        depth, j = 1, m.end()
        while j < len(sql) and depth:
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        args = [a.strip() for a in _split_top_level(sql[m.end() : j - 1])]
        if skip_if_table and args and args[0].upper().startswith("TABLE"):
            out.append(sql[i : j])
        else:
            out.append(sql[i : m.start()])
            out.append(repl(args))
        i = j


_UNNEST_RE = re.compile(
    r"(?P<lead>,|\bCROSS\s+JOIN|\bLEFT\s+JOIN)\s*UNNEST\s*\(\s*"
    r"(?P<expr>[^()]+?)\s*\)\s*(?:AS\s+)?(?P<al>\w+)"
    r"(?:\s*\(\s*(?P<cols>[\w\s,]*?)\s*\))?(?P<on>\s+ON\s+TRUE)?",
    re.IGNORECASE,
)


def _rewrite_unnest(sql: str, multi: str = "inline") -> str:
    """Translate Flink's UNNEST correlate (CommonExecCorrelate /
    UnnestRowsFunction.java:41) to Spark's LATERAL VIEW:

    - ``FROM t, UNNEST(t.arr) AS A (s)``      -> LATERAL VIEW explode
    - ``... UNNEST(t.rows) AS A (x, y)``      -> LATERAL VIEW inline
      (array-of-rows; ``multi='explode'`` is the MAP form — the caller
      retries with it when inline fails to resolve)
    - ``LEFT JOIN UNNEST(...) ON TRUE``       -> LATERAL VIEW OUTER
    - no column list: inline keeps the row type's own field names.
    """
    out = []
    while True:
        m = _UNNEST_RE.search(sql)
        if not m:
            out.append(sql)
            return "".join(out)
        cols = [c.strip() for c in (m.group("cols") or "").split(",") if c.strip()]
        outer = "OUTER " if m.group("lead").upper().startswith("LEFT") else ""
        expr = m.group("expr")
        if len(cols) == 1:
            gen = f"explode({expr})"
        elif len(cols) >= 2 and multi == "explode":
            gen = f"explode({expr})"
        else:
            gen = f"inline({expr})"
        colclause = f" AS {', '.join(cols)}" if cols else ""
        repl = f" LATERAL VIEW {outer}{gen} {m.group('al')}{colclause}"
        out.append(sql[: m.start()] + repl)
        sql = sql[m.end():]


def rewrite_group_windows(sql: str) -> str:
    """Translate Flink's LEGACY group-window syntax — ``GROUP BY
    TUMBLE/HOP/SESSION(timeattr, INTERVAL ...)`` with the
    ``*_START/_END/_ROWTIME/_PROCTIME`` auxiliary selectors
    (FlinkSqlOperatorTable TUMBLE_OLD/HOP_OLD/SESSION_OLD and their
    auxiliary functions) — into Spark's ``window()`` /
    ``session_window()`` grouping expressions. The grouped struct
    column is named ``window`` / ``session_window`` by Spark, so the
    selectors become field accesses on it; ``*_ROWTIME`` is the
    window's end minus 1ms (the reference's rowtime attribute of a
    fired window; ``*_PROCTIME`` maps to the same value — a proctime
    attribute has no batch dual, same divergence as PROCTIME()).
    """
    if not re.search(r"\b(TUMBLE|HOP|SESSION)\s*\(|\b(TUMBLE|HOP|SESSION)_", sql, re.I):
        return sql
    for base, gcol in (("TUMBLE", "window"), ("HOP", "window"), ("SESSION", "session_window")):
        for suf, expr in (
            ("START", f"{gcol}.start"),
            ("END", f"{gcol}.end"),
            ("ROWTIME", f"({gcol}.end - INTERVAL '0.001' SECOND)"),
            ("PROCTIME", f"({gcol}.end - INTERVAL '0.001' SECOND)"),
        ):
            sql = _replace_call(sql, f"{base}_{suf}", lambda _a, e=expr: e)
    sql = _replace_call(
        sql,
        "TUMBLE",
        lambda a: f"window({a[0]}, '{_interval_str(a[1])}')",
        skip_if_table=True,
    )
    # Flink HOP args: (time, slide, size); Spark: (time, size, slide)
    sql = _replace_call(
        sql,
        "HOP",
        lambda a: f"window({a[0]}, '{_interval_str(a[2])}', '{_interval_str(a[1])}')",
        skip_if_table=True,
    )
    sql = _replace_call(
        sql,
        "SESSION",
        lambda a: f"session_window({a[0]}, '{_interval_str(a[1])}')",
        skip_if_table=True,
    )
    return sql


def rewrite_window_tvfs(sql: str) -> str:
    """Translate Flink's windowing TVFs (SqlTumbleTableFunction /
    SqlHopTableFunction, FlinkSqlOperatorTable.java:1219-1221) to
    Spark's ``window()`` expression.

    ``TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL 'n' U))`` becomes a
    subquery projecting ``window(ts, 'n u') AS __w``; the TVF's
    ``window_start`` / ``window_end`` / ``window_time`` columns map to
    ``__w.start`` / ``__w.end`` / ``__w.end - 1ms``, re-aliased in the
    outer SELECT list so output column names match Flink's. HOP swaps
    its (slide, size) argument order into window(ts, size, slide);
    CUMULATE explodes each row into its growing slices
    (SliceAssigners.java:281 semantics — no Spark native).

    Also strips ``FOR SYSTEM_TIME AS OF <proctime>`` from joins: the
    processing-time temporal (lookup) join against a snapshot source IS
    a plain join in batch/micro-batch execution, where each (micro-)
    batch reads the dimension's current snapshot (operators/lookup.py);
    the event-time form needs the as-of operator (operators/asof.py).
    """
    sql = re.sub(
        r"\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+[\w.]+(\s*\(\s*\))?", " ", sql, flags=re.I
    )
    sql = rewrite_group_windows(sql)

    def sub(m: re.Match) -> str:
        kind, tbl, col, args = m.group(1).upper(), m.group(2), m.group(3), m.group(4)
        ivals = [_interval_str(a) for a in _split_top_level(args) if a.strip()]
        if kind == "TUMBLE":
            (size,) = ivals
            w = f"window({col}, '{size}')"
        elif kind == "HOP":
            slide, size = ivals  # Flink order: slide, then size
            w = f"window({col}, '{size}', '{slide}')"
        else:
            # CUMULATE(step, max): growing slices [start, start+k*step)
            # for k = 1..max/step (SliceAssigners.java:281). No Spark
            # native — explode each row into the slices containing it.
            raw = [a for a in _split_top_level(args) if a.strip()]
            (sn, su), (mn, mu) = _interval_parts(raw[0]), _interval_parts(raw[1])
            step_s = float(sn) * _UNIT_SECONDS[su]
            max_s = float(mn) * _UNIT_SECONDS[mu]
            n = max_s / step_s
            if n != int(n):
                raise ValueError("CUMULATE max size must be a multiple of step")
            return (
                f"(SELECT *, named_struct('start', __cs, 'end', __ce) AS __w"
                f" FROM (SELECT __t0.*, window({col}, '{mn} {mu.lower()}s').start AS __cs,"
                f" window({col}, '{mn} {mu.lower()}s').start"
                f" + __k * INTERVAL '{sn}' {su} AS __ce"
                f" FROM {tbl} __t0 LATERAL VIEW explode(sequence(1, {int(n)})) AS __k)"
                f" WHERE {col} < __ce)"
            )
        return f"(SELECT *, {w} AS __w FROM {tbl})"

    if not _TVF_RE.search(sql):
        return sql
    out = _TVF_RE.sub(sub, sql)
    out = re.sub(
        r"\bwindow_time\b", "(__w.end - INTERVAL '0.001' SECOND)", out, flags=re.I
    )
    out = re.sub(r"\bwindow_start\b", "__w.start", out, flags=re.I)
    out = re.sub(r"\bwindow_end\b", "__w.end", out, flags=re.I)

    # GROUP BY must key the window STRUCT, not its fields: Spark's
    # streaming planner recognizes event-time window aggregation (and
    # so permits append output after the watermark) only when the
    # grouping expression is the window() struct itself; grouping by
    # __w.start is semantically identical (start determines end for a
    # given TVF) but would demote the agg to a plain streaming agg and
    # reject append mode ("without watermark").
    def _group_by_struct(m: re.Match) -> str:
        parts = [p.strip() for p in _split_top_level(m.group(2))]
        out_parts, seen_w = [], False
        for p in parts:
            if p in ("__w.start", "__w.end"):
                if not seen_w:
                    out_parts.append("__w")
                    seen_w = True
            else:
                out_parts.append(p)
        return m.group(1) + ", ".join(out_parts) + m.group(3)

    out = re.sub(
        r"(GROUP\s+BY\s+)([^;]*?)(\s+HAVING\b|\s+ORDER\b|\s+LIMIT\b|\s*$)",
        _group_by_struct,
        out,
        flags=re.IGNORECASE | re.DOTALL,
    )
    # re-alias bare window columns in the OUTER select list so output
    # names keep Flink's window_start/window_end spelling
    head = re.match(r"(\s*SELECT\s+)(.*)", out, re.IGNORECASE | re.DOTALL)
    if head is None:  # e.g. WITH-prefixed query: leave aliasing to caller
        return out
    prefix, rest = head.group(1), head.group(2)
    items, depth, buf, pos = [], 0, [], 0
    for i, ch in enumerate(rest):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if (
            depth == 0
            and rest[i : i + 4].upper() == "FROM"
            and (i == 0 or rest[i - 1].isspace())
            and (i + 4 >= len(rest) or rest[i + 4].isspace() or rest[i + 4] == "(")
        ):
            pos = i
            break
        if ch == "," and depth == 0:
            items.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    items.append("".join(buf))
    aliased = []
    for it in items:
        t = it.strip()
        if t == "__w.start":
            t = "__w.start AS window_start"
        elif t == "__w.end":
            t = "__w.end AS window_end"
        elif t == "(__w.end - INTERVAL '0.001' SECOND)":
            t = t + " AS window_time"
        aliased.append(t)
    return prefix + ", ".join(aliased) + " " + rest[pos:]


_WM_UNITS = {
    "SECOND": "seconds",
    "SECONDS": "seconds",
    "MINUTE": "minutes",
    "MINUTES": "minutes",
    "HOUR": "hours",
    "HOURS": "hours",
    "DAY": "days",
    "DAYS": "days",
}


def _parse_schema_body(body: str) -> tuple[
    list[ColumnSpec], list[tuple[str, str]], tuple[str, str] | None, list[str]
]:
    columns: list[ColumnSpec] = []
    computed: list[tuple[str, str]] = []
    watermark: tuple[str, str] | None = None
    primary_key: list[str] = []
    for item in _split_top_level(body):
        up = item.upper()
        if up.startswith("WATERMARK"):
            m = re.fullmatch(
                r"WATERMARK\s+FOR\s+(\w+)\s+AS\s+\1\s*-\s*"
                r"INTERVAL\s+'([\d.]+)'\s+(\w+)",
                item,
                re.IGNORECASE,
            )
            if not m:
                raise ValueError(
                    f"unsupported watermark clause {item!r} — only the "
                    "bounded-delay form `WATERMARK FOR ts AS ts - "
                    "INTERVAL 'n' UNIT` maps to Spark watermarks "
                    "(SURVEY.md 1.3)"
                )
            unit = _WM_UNITS.get(m.group(3).upper())
            if unit is None:
                raise ValueError(f"unsupported watermark unit {m.group(3)!r}")
            watermark = (m.group(1), f"{m.group(2)} {unit}")
            continue
        if up.startswith("PRIMARY KEY"):
            m = re.search(r"\(([^)]*)\)", item)
            primary_key = [c.strip() for c in m.group(1).split(",")]
            continue
        if up.startswith("CONSTRAINT"):
            m = re.search(r"PRIMARY\s+KEY\s*\(([^)]*)\)", item, re.IGNORECASE)
            if m:
                primary_key = [c.strip() for c in m.group(1).split(",")]
            continue
        m = re.fullmatch(
            r"(\w+)\s+(.+?)\s+METADATA(?:\s+FROM\s+'([^']+)')?(?:\s+VIRTUAL)?",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # METADATA column (SupportsReadingMetadata; filesystem keys
            # file.path/name/size/modification-time). Carried through
            # the computed-column channel with a marker expression the
            # scan translates to Spark's _metadata struct; the key
            # defaults to the column name (reference behavior).
            styp, _ = flink_type_to_spark(m.group(2))
            key = m.group(3) or m.group(1)
            computed.append((m.group(1), f"@metadata:{key}:{styp}"))
            continue
        m = re.fullmatch(r"(\w+)\s+AS\s+(.+)", item, re.IGNORECASE | re.DOTALL)
        if m and not re.fullmatch(
            r"(\w+)\s+(CHAR|VARCHAR|ARRAY|MAP|ROW|MULTISET)\b.*",
            item,
            re.IGNORECASE | re.DOTALL,
        ):
            computed.append((m.group(1), m.group(2)))
            continue
        item_no_comment = re.sub(r"\s+COMMENT\s+'[^']*'", "", item, flags=re.I)
        m = re.fullmatch(
            r"(\w+)\s+(.+?)(\s+NOT\s+NULL)?", item_no_comment, re.IGNORECASE | re.DOTALL
        )
        if not m:
            raise ValueError(f"cannot parse column definition {item!r}")
        spark_type, char_limit = flink_type_to_spark(m.group(2))
        columns.append(
            ColumnSpec(
                name=m.group(1),
                spark_type=spark_type,
                not_null=bool(m.group(3)),
                char_limit=char_limit,
            )
        )
    return columns, computed, watermark, primary_key


# ---------------------------------------------------------------------------
# Results and the fluent Table API
# ---------------------------------------------------------------------------


class TableResult:
    """executeSql result: rows for queries/introspection, OK for DDL."""

    def __init__(self, df: DataFrame | None = None, rows: list | None = None):
        self._df = df
        self._rows = rows

    def collect(self) -> list:
        if self._df is not None:
            return self._df.collect()
        return self._rows or []

    def print(self) -> None:
        if self._df is not None:
            self._df.show(truncate=False)
        else:
            for r in self._rows or []:
                print(r)

    def to_data_frame(self) -> DataFrame | None:
        return self._df

    def wait(self) -> "TableResult":  # API parity: batch results are sync
        return self


class EnvironmentSettings:
    """EnvironmentSettings.java facade: the mode selector handed to
    TableEnvironment.create. ``new_instance()...build()`` and the
    ``in_streaming_mode()/in_batch_mode()`` shorthands both work."""

    def __init__(self, streaming: bool = False) -> None:
        self.streaming = streaming

    @staticmethod
    def in_streaming_mode() -> "EnvironmentSettings":
        return EnvironmentSettings(True)

    @staticmethod
    def in_batch_mode() -> "EnvironmentSettings":
        return EnvironmentSettings(False)

    @staticmethod
    def new_instance() -> "EnvironmentSettingsBuilder":
        return EnvironmentSettingsBuilder()


class EnvironmentSettingsBuilder:
    def __init__(self) -> None:
        self._streaming = False

    def in_streaming_mode(self) -> "EnvironmentSettingsBuilder":
        self._streaming = True
        return self

    def in_batch_mode(self) -> "EnvironmentSettingsBuilder":
        self._streaming = False
        return self

    def build(self) -> EnvironmentSettings:
        return EnvironmentSettings(self._streaming)


def _sub_window_attrs(s: str, alias: str, repl: dict) -> str:
    """Rewrite ``<alias>.start/.end/.rowtime`` window-attribute
    references to their target expressions — alias regex-escaped and
    string literals left untouched (a literal ``'w.start'`` is data,
    not a window reference)."""
    pats = [
        (re.compile(rf"\b{re.escape(alias)}\.{attr}\b"), target)
        for attr, target in repl.items()
    ]
    out = []
    for is_lit, seg in _split_sql_literals(s):
        if not is_lit:
            for pat, target in pats:
                seg = pat.sub(target, seg)
        out.append(seg)
    return "".join(out)


def _require_agg_fields(res: dict, agg_names: list) -> None:
    """A typo'd key in an aggregate fn's result dict must raise, not
    silently become NULL in the declared output column (shared by the
    grouped and windowed UDAF harnesses)."""
    missing = [n for n in agg_names if n not in res]
    if missing:
        raise ValueError(
            f"aggregate fn result is missing declared output "
            f"fields {missing} (got keys {sorted(res)})"
        )


def _frag(parts) -> str:
    """Coerce Table-API arguments — one SQL fragment string, one
    expression-DSL object, or several of either — to a SQL fragment."""
    if len(parts) == 1 and isinstance(parts[0], str):
        return parts[0]
    return ", ".join(str(p) for p in parts)


class Table:
    """Fluent Table API over a DataFrame.

    Each call composes a Spark SQL fragment via parameterized
    ``spark.sql("... {df} ...", df=...)`` so the semantics are exactly
    the SQL path's — the analog of the reference lowering both APIs to
    one RelNode IR.
    """

    def __init__(self, df: DataFrame, tenv: "TableEnvironment | None" = None):
        self._df = df
        self._tenv = tenv

    # -- projection / filter -------------------------------------------------
    def select(self, *exprs) -> "Table":
        # accepts one SQL fragment string OR expression-DSL objects
        # (expressions.col/lit/call) / several of either
        return self._sql(f"SELECT {_frag(exprs)} FROM {{t}}")

    def add_columns(self, *exprs) -> "Table":
        return self._sql(f"SELECT *, {_frag(exprs)} FROM {{t}}")

    def add_or_replace_columns(self, *exprs) -> "Table":
        """TableImpl.addOrReplaceColumns: each item must be ``expr AS
        name``; a same-named existing column is replaced IN PLACE, new
        names append."""
        items = _split_top_level(_frag(exprs))
        new: dict[str, str] = {}
        for it in items:
            m = re.search(r"\s+AS\s+(\w+)\s*$", it, re.IGNORECASE)
            if not m:
                raise ValueError(
                    f"add_or_replace_columns items must be aliased ('expr AS "
                    f"name'), got {it.strip()!r}"
                )
            new[m.group(1).lower()] = it.strip()
        select = [new.pop(c.lower(), c) for c in self._df.columns]
        select += list(new.values())
        return self._sql(f"SELECT {', '.join(select)} FROM {{t}}")

    def as_(self, *names) -> "Table":
        """TableImpl.as: rename ALL columns positionally (the fluent
        ``table.as("a, b, c")`` / ``alias`` spelling)."""
        if len(names) == 1 and isinstance(names[0], str):
            names = tuple(n.strip() for n in names[0].split(","))
        if len(names) != len(self._df.columns):
            raise ValueError(
                f"as_ needs exactly {len(self._df.columns)} names, got {len(names)}"
            )
        return Table(self._df.toDF(*names), self._tenv)

    alias = as_

    def drop_columns(self, cols: str) -> "Table":
        names = [c.strip() for c in cols.split(",")]
        return Table(self._df.drop(*names), self._tenv)

    def rename_columns(self, mapping: str) -> "Table":
        out = self._df
        for part in _split_top_level(mapping):
            old, new = re.split(r"\s+AS\s+", part, flags=re.IGNORECASE)
            out = out.withColumnRenamed(old.strip(), new.strip())
        return Table(out, self._tenv)

    def where(self, predicate: str) -> "Table":
        return self._sql(f"SELECT * FROM {{t}} WHERE {predicate}")

    filter = where

    # -- aggregation ---------------------------------------------------------
    def group_by(self, *keys) -> "GroupedTable":
        return GroupedTable(self._df, _frag(keys), self._tenv)

    def window(self, window: "GroupWindow") -> "WindowedTable":
        """Group-window surface (Tumble/Slide/Session classes)."""
        return WindowedTable(self._df, window, self._tenv)

    def over_window(self, *windows: "OverWindow") -> "OverWindowedTable":
        """Over-window surface (Over.partition_by(...).order_by(...))."""
        return OverWindowedTable(self._df, windows, self._tenv)

    def distinct(self) -> "Table":
        return Table(self._df.distinct(), self._tenv)

    # -- joins / set ops -----------------------------------------------------
    def join(self, right: "Table", on: str | None = None, how: str = "INNER") -> "Table":
        """TableImpl.join: with ``on`` an equi/theta join; without it
        the reference's predicate-less ``join(right)`` (a cross join the
        caller filters afterwards)."""
        if on is None:
            if how.strip().upper() not in ("INNER", ""):
                # an outer join needs a condition to null-pad against;
                # the reference's no-predicate outer overloads use TRUE
                on = "TRUE"
            else:
                return Table(self._df.crossJoin(right._df), self._tenv)
        return Table(
            self._df.sparkSession.sql(
                f"SELECT * FROM {{l}} {how} JOIN {{r}} ON {on}",
                l=self._df,
                r=right._df,
            ),
            self._tenv,
        )

    def left_outer_join(self, right: "Table", on: str = "TRUE") -> "Table":
        # the no-predicate overload (TableImpl.leftOuterJoin:205) joins
        # on literal TRUE, like the reference
        return self.join(right, on, "LEFT OUTER")

    def right_outer_join(self, right: "Table", on: str) -> "Table":
        return self.join(right, on, "RIGHT OUTER")

    def full_outer_join(self, right: "Table", on: str) -> "Table":
        return self.join(right, on, "FULL OUTER")

    def join_lateral(
        self,
        udtf_expr: str,
        alias: str = "t",
        outer: bool = False,
        predicate: str | None = None,
    ) -> "Table":
        """Fluent lateral UDTF apply (OperationTreeBuilder.joinLateral):
        ``t.join_lateral("explode(split(s, ',')) AS word")`` — each left
        row joined to the rows its table-function call produces.
        ``predicate`` is the reference's 2-arg joinLateral(call, cond):
        a filter over left+function columns applied to the joined rows."""
        parts = re.split(r"\s+AS\s+", udtf_expr, maxsplit=1, flags=re.IGNORECASE)
        clause = f"LATERAL VIEW {'OUTER ' if outer else ''}{parts[0]} {alias}"
        if len(parts) == 2:
            clause += f" AS {parts[1]}"
        where = f" WHERE {predicate}" if predicate else ""
        return self._sql(f"SELECT * FROM {{t}} {clause}{where}")

    def left_outer_join_lateral(self, udtf_expr: str, alias: str = "t") -> "Table":
        """TableImpl.leftOuterJoinLateral: a left row with an EMPTY
        table-function result survives with NULL function columns
        (LATERAL VIEW OUTER)."""
        return self.join_lateral(udtf_expr, alias, outer=True)

    # -- row-based operations (TableImpl.java:403-418) -------------------------
    def map(self, fn, schema: str, vectorized: bool = False) -> "Table":
        """Row-based map (TableImpl.map:403): every input row produces
        exactly ONE output row of ``schema`` — the reference's
        ``table.map(call(ScalarFunction))`` with a composite return
        type. ``fn``: row dict -> row dict; with ``vectorized=True`` a
        pandas ``DataFrame -> same-length DataFrame`` batch function
        (the PyFlink pandas-UDF tier — prefer it on hot paths). Lowered
        to ``mapInPandas``: Arrow-batched, shuffle-free, streaming-safe.
        """
        import pandas as pd

        names = [f.name for f in StructType.fromDDL(schema).fields]

        if vectorized:
            def run(batches):
                for pdf in batches:
                    out = fn(pdf)
                    if len(out) != len(pdf):
                        raise ValueError(
                            "Table.map is 1:1 — the batch fn returned "
                            f"{len(out)} rows for {len(pdf)} inputs "
                            "(use flat_map for 0..n emission)"
                        )
                    yield out[names]
        else:
            def run(batches):
                for pdf in batches:
                    rows = [fn(r) for r in pdf.to_dict("records")]
                    yield pd.DataFrame(rows, columns=names)

        return Table(self._df.mapInPandas(run, schema=schema), self._tenv)

    def flat_map(self, fn, schema: str) -> "Table":
        """Row-based flatMap (TableImpl.flatMap:408): ``fn`` is a table
        function — row dict -> iterable of row dicts, emitting 0..n
        output rows per input row. Lowered to ``mapInPandas`` (same
        Arrow-batched, shuffle-free shape as :meth:`map`)."""
        import pandas as pd

        names = [f.name for f in StructType.fromDDL(schema).fields]

        def run(batches):
            for pdf in batches:
                rows = [o for r in pdf.to_dict("records") for o in fn(r)]
                yield pd.DataFrame(rows, columns=names)

        return Table(self._df.mapInPandas(run, schema=schema), self._tenv)

    def union_all(self, other: "Table") -> "Table":
        return Table(self._df.unionAll(other._df), self._tenv)

    def union(self, other: "Table") -> "Table":
        return Table(self._df.union(other._df).distinct(), self._tenv)

    def intersect(self, other: "Table") -> "Table":
        return Table(self._df.intersect(other._df), self._tenv)

    def intersect_all(self, other: "Table") -> "Table":
        return Table(self._df.intersectAll(other._df), self._tenv)

    def minus(self, other: "Table") -> "Table":
        # SQL EXCEPT (TableImpl.minus:282): left rows NOT IN right,
        # duplicates removed — exceptAll().distinct() would keep a left
        # row whose duplicates outnumber its right occurrences
        return Table(self._df.subtract(other._df), self._tenv)

    def minus_all(self, other: "Table") -> "Table":
        return Table(self._df.exceptAll(other._df), self._tenv)

    # -- ordering / limits ---------------------------------------------------
    def order_by(self, exprs: str) -> "Table":
        return self._sql(f"SELECT * FROM {{t}} ORDER BY {exprs}")

    def fetch(self, n: int) -> "Table":
        return Table(self._df.limit(n), self._tenv)

    limit = fetch

    def offset(self, n: int) -> "Table":
        """Skip the first ``n`` rows. NOTE: offset is a GLOBAL operation
        — the plan funnels through a single-partition limit (Flink's
        batch offset is equally global); on a large table prefer a
        key-range predicate for pagination."""
        # limit + offset must fit in int32 (Spark constraint)
        return self._sql(f"SELECT * FROM {{t}} LIMIT {2**31 - 1 - n} OFFSET {n}")

    # -- execution -----------------------------------------------------------
    def execute(self) -> TableResult:
        return TableResult(df=self._df)

    def execute_insert(self, table_path: str, overwrite: bool = False) -> TableResult:
        """TableImpl.insertInto(path[, overwrite]).execute()
        (TablePipeline.java): write this table into a catalog sink table
        through the same connector path as ``INSERT INTO`` SQL
        (positional alignment, ConstraintEnforcer, partition layout,
        commit protocol)."""
        if self._tenv is None:
            raise ValueError(
                "this Table is not bound to a TableEnvironment "
                "(create it via tenv.from_path/from_data_frame/sql_query)"
            )
        if self._df.sparkSession is not self._tenv.spark:
            # temp views are per-SparkSession (the gateway isolates
            # sessions via newSession): a view registered on the
            # DataFrame's session would be invisible to the
            # environment's SQL — fail loudly instead
            raise ValueError(
                "execute_insert: this Table's DataFrame belongs to a "
                "different SparkSession than its TableEnvironment — "
                "recreate it via tenv.from_data_frame on the right session"
            )
        view = f"__pipeline_{uuid.uuid4().hex}"
        self._df.createOrReplaceTempView(view)
        try:
            return self._tenv._insert(
                table_path, f"SELECT * FROM {view}", overwrite
            )
        finally:
            self._tenv.spark.catalog.dropTempView(view)

    def to_data_frame(self) -> DataFrame:
        return self._df

    def print_schema(self) -> None:
        self._df.printSchema()

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode=mode)

    def _sql(self, template: str) -> "Table":
        return Table(self._df.sparkSession.sql(template, t=self._df), self._tenv)


class GroupedTable:
    def __init__(self, df: DataFrame, keys: str, tenv=None):
        self._df = df
        self._keys = keys
        self._tenv = tenv

    def select(self, *exprs) -> Table:
        exprs = _frag(exprs)
        return Table(
            self._df.sparkSession.sql(
                f"SELECT {exprs} FROM {{t}} GROUP BY {self._keys}", t=self._df
            ),
            self._tenv,
        )

    def flat_aggregate(self, fn, schema: str) -> Table:
        """Table aggregate fluent surface (GroupedTable.flatAggregate,
        TableAggregateFunction.java:157 — an aggregate emitting MULTIPLE
        rows per group, e.g. top-2). ``fn`` is a pandas
        DataFrame -> DataFrame per group; ``schema`` its output schema
        (group keys are NOT implicit — include them in the output).
        Lowered via the group-amortized exchange, as :meth:`aggregate`."""
        keys = [k.strip() for k in self._keys.split(",")]
        out = grouped_apply(self._df, keys, lambda _key, pdf: fn(pdf), StructType.fromDDL(schema))
        return Table(out, self._tenv)

    def aggregate(self, fn, schema: str) -> "AggregatedTable":
        """GroupedTable.aggregate (TableImpl.java:413,
        AggregatedTableImpl): a UDAF emitting ONE row per group. Unlike
        :meth:`flat_aggregate`, the group keys are IMPLICIT — they are
        prepended to the aggregate's output columns, and the result must
        be projected with ``.select(...)`` (the reference's
        ``groupBy(..).aggregate(call(f)).select(..)`` chain). ``fn``:
        one group's pandas DataFrame -> dict of aggregate fields (or a
        1-row DataFrame); ``schema`` declares ONLY the aggregate fields.
        Lowered via the group-amortized exchange (one shuffle on the
        keys + in-batch group iteration, not one Python call per group).
        """
        import pandas as pd

        keys = [k.strip() for k in self._keys.split(",")]
        in_types = {f.name: f for f in self._df.schema.fields}
        missing = [k for k in keys if k not in in_types]
        if missing:
            raise ValueError(
                f"aggregate requires plain column-name keys, got {missing} "
                "(compute expressions with add_columns first)"
            )
        agg_fields = StructType.fromDDL(schema).fields
        full = StructType([in_types[k] for k in keys] + list(agg_fields))
        agg_names = [f.name for f in agg_fields]

        def harness(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            res = fn(pdf)
            if isinstance(res, pd.DataFrame):
                if len(res) != 1:
                    raise ValueError(
                        "aggregate fn must produce exactly one row per "
                        f"group, got {len(res)} (use flat_aggregate for "
                        "multi-row emission)"
                    )
                res = res.iloc[0].to_dict()
            _require_agg_fields(res, agg_names)
            row = dict(zip(keys, key))
            row.update({n: res[n] for n in agg_names})
            return [row]  # list return: one output frame per Arrow batch

        return AggregatedTable(grouped_apply(self._df, keys, harness, full), self._tenv)


class AggregatedTable:
    """The intermediate of ``group_by(..).aggregate(..)`` — only a
    projection is legal next (AggregatedTableImpl.select)."""

    def __init__(self, df: DataFrame, tenv=None):
        self._df = df
        self._tenv = tenv

    def select(self, *exprs) -> Table:
        return Table(
            self._df.sparkSession.sql(
                f"SELECT {_frag(exprs)} FROM {{t}}", t=self._df
            ),
            self._tenv,
        )


# ---------------------------------------------------------------------------
# Table API group windows (Tumble/Slide/Session classes + Table.window,
# org.apache.flink.table.api.{Tumble,Slide,Session}; lowered by
# StreamExecGroupWindowAggregate — here to Spark's window()/
# session_window() SQL functions, the same lowering as the SQL TVFs)
# ---------------------------------------------------------------------------


def _norm_interval(s: str) -> str:
    # accept PyFlink-style "10.minutes" as well as "10 minutes"
    return re.sub(r"^([\d.]+)\.(\w+)$", r"\1 \2", s.strip())


class GroupWindow:
    def __init__(self, kind: str, size: str, slide: str | None = None):
        self.kind = kind
        self.size = _norm_interval(size)
        self.slide = _norm_interval(slide) if slide else None
        self.time_col: str | None = None
        self.name: str | None = None

    def every(self, slide: str) -> "GroupWindow":  # Slide.over(size).every(slide)
        self.slide = _norm_interval(slide)
        return self

    def on(self, time_col: str) -> "GroupWindow":
        self.time_col = time_col
        return self

    def alias(self, name: str) -> "GroupWindow":
        self.name = name
        return self

    def sql_expr(self) -> str:
        if self.time_col is None or self.name is None:
            raise ValueError("group window needs .on(time_col).alias(name)")
        if self.kind == "session":
            return f"session_window({self.time_col}, '{self.size}')"
        if self.kind == "slide":
            if not self.slide:
                raise ValueError("Slide window needs .every(slide)")
            return f"window({self.time_col}, '{self.size}', '{self.slide}')"
        return f"window({self.time_col}, '{self.size}')"


class OverWindow:
    """Table API over-window spec (org.apache.flink.table.api.Over;
    lowered to a SQL WINDOW clause — BatchExecOverAggregate /
    StreamExecOverAggregate frames)."""

    def __init__(self):
        self.partition: str | None = None
        self.order: str | None = None
        self.prec: str = "UNBOUNDED_RANGE"
        self.foll: str | None = None
        self.name: str | None = None

    def partition_by(self, cols: str) -> "OverWindow":
        self.partition = cols
        return self

    def order_by(self, cols: str) -> "OverWindow":
        self.order = cols
        return self

    def preceding(self, bound: str) -> "OverWindow":
        self.prec = bound
        return self

    def following(self, bound: str) -> "OverWindow":
        self.foll = bound
        return self

    def alias(self, name: str) -> "OverWindow":
        self.name = name
        return self

    @staticmethod
    def _bound(spec: str, side: str) -> tuple[str, str]:
        """Flink bound spelling -> (frame unit, SQL bound)."""
        s = _norm_interval(spec).strip()
        up = s.upper()
        if up == "UNBOUNDED_RANGE":
            return "RANGE", f"UNBOUNDED {side}"
        if up == "UNBOUNDED_ROW":
            return "ROWS", f"UNBOUNDED {side}"
        if up == "CURRENT_RANGE":
            return "RANGE", "CURRENT ROW"
        if up == "CURRENT_ROW":
            return "ROWS", "CURRENT ROW"
        m = re.fullmatch(r"(\d+)\s+rows?", s, re.IGNORECASE)
        if m:
            return "ROWS", f"{m.group(1)} {side}"
        m = re.fullmatch(r"([\d.]+)\s+(\w+?)s?", s, re.IGNORECASE)
        if m:
            return "RANGE", f"INTERVAL '{m.group(1)}' {m.group(2).upper()} {side}"
        raise ValueError(f"unsupported over-window bound {spec!r}")

    def sql_clause(self) -> str:
        if self.order is None or self.name is None:
            raise ValueError("over window needs .order_by(...).alias(name)")
        unit, lo = self._bound(self.prec, "PRECEDING")
        if self.foll is None:
            hi = "CURRENT ROW"
        else:
            unit2, hi = self._bound(self.foll, "FOLLOWING")
            if unit2 != unit:
                raise ValueError("preceding/following must agree on ROWS vs RANGE")
        parts = []
        if self.partition:
            parts.append(f"PARTITION BY {self.partition}")
        parts.append(f"ORDER BY {self.order}")
        parts.append(f"{unit} BETWEEN {lo} AND {hi}")
        return f"{self.name} AS ({' '.join(parts)})"


class Over:
    @staticmethod
    def partition_by(cols: str) -> OverWindow:
        return OverWindow().partition_by(cols)

    @staticmethod
    def order_by(cols: str) -> OverWindow:
        return OverWindow().order_by(cols)


class Tumble:
    @staticmethod
    def over(size: str) -> GroupWindow:
        return GroupWindow("tumble", size)


class Slide:
    @staticmethod
    def over(size: str) -> GroupWindow:
        return GroupWindow("slide", size)


class Session:
    @staticmethod
    def with_gap(gap: str) -> GroupWindow:
        return GroupWindow("session", gap)


class OverWindowedTable:
    def __init__(self, df: DataFrame, windows: tuple["OverWindow", ...], tenv=None):
        self._df = df
        self._windows = windows
        self._tenv = tenv

    def select(self, exprs: str) -> Table:
        clause = ", ".join(w.sql_clause() for w in self._windows)
        return Table(
            self._df.sparkSession.sql(
                f"SELECT {exprs} FROM {{t}} WINDOW {clause}", t=self._df
            ),
            self._tenv,
        )


class WindowedTable:
    def __init__(self, df: DataFrame, window: GroupWindow, tenv=None):
        self._df = df
        self._window = window
        self._tenv = tenv

    def group_by(self, keys: str) -> "WindowGroupedTable":
        return WindowGroupedTable(self._df, self._window, keys, self._tenv)


class WindowGroupedTable:
    def __init__(self, df: DataFrame, window: GroupWindow, keys: str, tenv=None):
        self._df = df
        self._window = window
        self._tenv = tenv
        self._keys = [k.strip() for k in keys.split(",")]
        if window.name not in self._keys:
            raise ValueError(f"group_by must include the window alias {window.name!r}")

    def select(self, exprs: str) -> Table:
        w = self._window
        # window-attribute references: w.start / w.end / w.rowtime
        # (rowtime = end - 1ms, GroupWindowAggregate's rowtime attr);
        # Spark names the struct after the generating function
        col = "session_window" if w.kind == "session" else "window"
        exprs = _sub_window_attrs(
            exprs,
            w.name,
            {
                "start": f"{col}.start",
                "end": f"{col}.end",
                "rowtime": f"{col}.end - INTERVAL 1 MILLISECOND",
            },
        )
        group = ", ".join(
            w.sql_expr() if k == w.name else k for k in self._keys
        )
        return Table(
            self._df.sparkSession.sql(
                f"SELECT {exprs} FROM {{t}} GROUP BY {group}", t=self._df
            ),
            self._tenv,
        )

    def _assign_window(self, schema: str):
        """Shared lowering for the fluent windowed UDAFs: assign the
        window bounds as native epoch arithmetic (hop rows explode into
        every containing window), project the intermediate struct AWAY
        (the UDAF sees only source columns + ``<alias>_start/_end``, and
        the struct never rides the exchange), and build the output
        schema. The intermediate name is uuid-suffixed so no source
        column can collide with it."""
        w = self._window
        if w.kind == "session":
            raise ValueError(
                "session windows merge at aggregation time (Spark's "
                "native session_window agg); the fluent windowed UDAF "
                "supports Tumble/Slide — use .select with SQL aggregates "
                "for sessions"
            )
        plain = [k for k in self._keys if k != w.name]
        src_cols = set(self._df.columns)
        bad = [k for k in plain if k not in src_cols]
        if bad:
            raise ValueError(
                f"aggregate requires plain column-name keys, got {bad} "
                "(compute expressions with add_columns first)"
            )
        ws, we = f"{w.name}_start", f"{w.name}_end"
        tmp = f"__gw_{uuid.uuid4().hex[:12]}"
        cols = ", ".join(f"t.`{c}`" for c in self._df.columns)
        assigned = self._df.sparkSession.sql(
            f"SELECT {cols}, {tmp}.start AS {ws}, {tmp}.end AS {we} "
            f"FROM (SELECT *, {w.sql_expr()} AS {tmp} FROM {{t}}) t",
            t=self._df,
        )
        in_types = {f.name: f for f in assigned.schema.fields}
        out_fields = StructType.fromDDL(schema).fields
        gcols = plain + [ws, we]
        full = StructType([in_types[k] for k in gcols] + list(out_fields))
        return assigned, gcols, full, [f.name for f in out_fields]

    def aggregate(self, fn, schema: str) -> "WindowAggregatedTable":
        """Windowed UDAF (TableImpl's WindowGroupedTableImpl.aggregate):
        ``fn`` sees one (keys, window) group's pandas DataFrame and
        returns a dict of aggregate fields; the result is projected with
        ``.select(...)`` where ``<alias>.start`` / ``<alias>.end`` refer
        to the window bounds. Lowered like GroupedTable.aggregate (one
        keyed exchange, group-amortized) with the window assigned as
        native epoch arithmetic before the shuffle."""
        import pandas as pd

        assigned, gcols, full, agg_names = self._assign_window(schema)

        def harness(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            res = fn(pdf)
            if isinstance(res, pd.DataFrame):
                if len(res) != 1:
                    raise ValueError(
                        "aggregate fn must produce exactly one row per "
                        "(key, window) group"
                    )
                res = res.iloc[0].to_dict()
            _require_agg_fields(res, agg_names)
            row = dict(zip(gcols, key))
            row.update({n: res[n] for n in agg_names})
            return [row]  # list return: one output frame per Arrow batch

        return WindowAggregatedTable(
            grouped_apply(assigned, gcols, harness, full), self._window, self._tenv
        )

    def flat_aggregate(self, fn, schema: str) -> "WindowAggregatedTable":
        """Windowed table aggregate (multi-row per (key, window) group —
        WindowGroupedTableImpl.flatAggregate). ``fn``: group DataFrame ->
        DataFrame of 0..n rows carrying ONLY the declared ``schema``
        columns; the group keys and window bounds are prepended to every
        emitted row."""
        import pandas as pd

        assigned, gcols, full, names = self._assign_window(schema)

        def harness(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            res = fn(pdf)
            if res is None or len(res) == 0:
                return pd.DataFrame(columns=[f.name for f in full.fields])
            out = pd.DataFrame(res)[names]
            for c, v in reversed(list(zip(gcols, key))):
                out.insert(0, c, v)
            return out

        return WindowAggregatedTable(
            grouped_apply(assigned, gcols, harness, full), self._window, self._tenv
        )


class WindowAggregatedTable:
    """Intermediate of a fluent windowed UDAF: only ``select`` is legal
    next; ``<alias>.start`` / ``<alias>.end`` / ``<alias>.rowtime``
    resolve to the window-bound columns."""

    def __init__(self, df: DataFrame, window: GroupWindow, tenv=None):
        self._df = df
        self._window = window
        self._tenv = tenv

    def select(self, *exprs) -> Table:
        w = self._window
        s = _frag(exprs)
        s = _sub_window_attrs(
            s,
            w.name,
            {
                "start": f"{w.name}_start",
                "end": f"{w.name}_end",
                "rowtime": f"{w.name}_end - INTERVAL 1 MILLISECOND",
            },
        )
        return Table(
            self._df.sparkSession.sql(f"SELECT {s} FROM {{t}}", t=self._df),
            self._tenv,
        )


# ---------------------------------------------------------------------------
# TableEnvironment
# ---------------------------------------------------------------------------

_CREATE_TABLE_RE = re.compile(
    # body is lazy so an optional PARTITIONED BY clause between the
    # schema and WITH is not swallowed into the column list
    r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w.]+)\s*\((?P<body>.*?)\)\s*"
    r"(?:COMMENT\s+'(?:[^']|'')*'\s*)?"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>[^)]*)\)\s*)?"
    r"WITH\s*\((?P<opts>.*)\)\s*",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_TABLE_LIKE_RE = re.compile(
    r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w.]+)\s*"
    r"(?:\((?P<body>.*)\)\s*)?"
    r"(?:WITH\s*\((?P<opts>.*?)\)\s*)?"
    r"LIKE\s+(?P<base>[\w.]+)\s*(?:\(\s*(?P<likeopts>[^)]*)\))?",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_VIEW_RE = re.compile(
    r"CREATE\s+(?:TEMPORARY\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w.]+)\s+AS\s+(?P<query>.+)",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"DROP\s+(?:TEMPORARY\s+)?(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?(?P<name>[\w.]+)\s*",
    re.IGNORECASE,
)
_INSERT_RE = re.compile(
    # RichSqlInsert: INSERT INTO|OVERWRITE t [PARTITION (...)]
    # [(col, ...)] <query> — the optional target column list enables
    # partial inserts (unlisted columns fill with NULL)
    r"INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?P<name>[\w.]+)\s*"
    r"(?:PARTITION\s*\((?P<parts>[^)]*)\)\s*)?"
    r"(?:\((?P<cols>\s*\w+\s*(?:,\s*\w+\s*)*)\)\s*)?"
    r"(?P<query>(?:SELECT|VALUES|WITH|TABLE)\b.+)",
    re.IGNORECASE | re.DOTALL,
)
# CTAS (Parser.tdd:55): CREATE TABLE t WITH (...) AS SELECT ...
_CTAS_RE = re.compile(
    r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[\w.]+)\s*"
    r"WITH\s*\((?P<opts>.*?)\)\s*"
    r"AS\s+(?P<query>(?:SELECT|WITH|VALUES|TABLE)\b.*)",
    re.IGNORECASE | re.DOTALL,
)
_ANALYZE_RE = re.compile(
    r"ANALYZE\s+TABLE\s+(?P<name>[\w.]+)\s+COMPUTE\s+STATISTICS"
    r"(?:\s+FOR\s+(?:ALL\s+COLUMNS|COLUMNS\s+(?P<cols>[\w\s,]+)))?",
    re.IGNORECASE,
)


_OPTION_PAIR_RE = re.compile(r"\s*'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'\s*")


def _parse_option_pair(pair: str) -> tuple[str, str] | None:
    """Parse one ``'key'='value'`` WITH-clause / TBLPROPERTIES entry.
    Doubled single quotes are SQL escapes (``'don''t'`` -> ``don't``,
    the reference's SqlLiteral unparsing)."""
    m = _OPTION_PAIR_RE.fullmatch(pair)
    if m is None:
        return None
    return m.group(1).replace("''", "'"), m.group(2).replace("''", "'")


# the character set Hive/Spark escape in partition directory names
# (Hive FileUtils.escapePathName, copied by Spark's
# ExternalCatalogUtils): control chars plus these printables
_PART_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _escape_partition_value(v: str) -> str:
    """Escape a partition VALUE the way Spark writes hive-style
    directories ('a:b' -> 'a%3Ab'), so catalog operations address the
    real on-disk layout."""
    return "".join(
        f"%{ord(c):02X}" if c in _PART_ESCAPE_CHARS or ord(c) < 0x20 else c
        for c in str(v)
    )


def _parse_partition_spec(spec: str) -> dict[str, str]:
    """``p1='v1', p2=3`` -> {'p1': 'v1', 'p2': '3'} (string values are
    unquoted; the scan casts to the declared partition-column type)."""
    out: dict[str, str] = {}
    for pair in _split_top_level(spec):
        km = re.fullmatch(r"\s*(\w+)\s*=\s*(.+?)\s*", pair)
        if not km:
            raise ValueError(f"cannot parse PARTITION item {pair!r}")
        v = km.group(2)
        if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
            # unquote, decoding doubled-quote escapes ('don''t' -> don't)
            q, v = v[0], v[1:-1]
            v = v.replace(q + q, q)
        out[km.group(1)] = v
    return out


def _parse_byte_size(s: str) -> int:
    """Flink MemorySize spellings ('128MB', '1 gb', '64 kb', plain
    bytes) -> bytes (MemorySize.parse in the reference's config)."""
    m = re.fullmatch(
        r"\s*(\d+)\s*(b|kb|k|mb|m|gb|g|tb|t)?\s*", s, re.IGNORECASE
    )
    if not m:
        raise ValueError(f"cannot parse memory size {s!r}")
    mult = {
        None: 1, "b": 1,
        "k": 1024, "kb": 1024,
        "m": 1024**2, "mb": 1024**2,
        "g": 1024**3, "gb": 1024**3,
        "t": 1024**4, "tb": 1024**4,
    }[m.group(2).lower() if m.group(2) else None]
    return int(m.group(1)) * mult


class TableEnvironment:
    """SQL/Table entry point over a SparkSession.

    ``streaming=True`` scans connector tables with ``readStream`` and
    applies watermark DDL — EnvironmentSettings.inStreamingMode(); the
    default mirrors inBatchMode().
    """

    def __init__(self, spark: SparkSession, streaming: bool = False):
        self.spark = spark
        self.streaming = streaming
        self._tables: dict[str, CatalogTable] = {}
        # SET 'k'='v' statements land here; spark.* keys pass through to
        # the session conf, table.* keys are recorded for introspection
        self._config: dict[str, str] = {}
        self._config_originals: dict[str, str | None] = {}
        # temporal table functions: name -> (history view, time attr,
        # primary key cols) — TemporalTableFunction, the pre-FLIP-132
        # versioned-join surface (Table.createTemporalTableFunction)
        self._temporal_fns: dict[str, tuple[str, str, list[str]]] = {}
        # catalog + database namespace (CatalogManager,
        # flink-table-api-java/.../catalog/CatalogManager.java:263 —
        # CREATE/DROP/USE CATALOG per Parser.tdd:50,58,72; CREATE/DROP/
        # USE DATABASE). Databases are scoped per catalog; USE CATALOG
        # resets the current database to the catalog's default database
        # (CatalogManager.setCurrentCatalog:275). Table names stay
        # globally unique across catalogs (Spark temp views are
        # session-global — the session catalog remains the physical
        # store); the namespace scopes listing, attribution, and
        # qualified `catalog.db.table` resolution.
        self._catalogs: dict[str, dict[str, str]] = {
            "default_catalog": {"type": "generic_in_memory"}
        }
        self._current_catalog = "default_catalog"
        self._databases: dict[str, set[str]] = {
            "default_catalog": {"default_database"}
        }
        self._current_db = "default_database"
        # module registry (ModuleManager; LOAD/UNLOAD/USE MODULES per
        # Parser.tdd:88,103): ordered name -> used flag. The core module
        # is loaded+used by default (ModuleManager's CoreModule); its
        # function set is the Flink-spelled SQL UDF surface below.
        self._modules: dict[str, bool] = {"core": True}
        # database properties (SqlAlterDatabase / SqlDescribeDatabase):
        # (catalog, database) -> {'comment': ..., props...}
        self._db_props: dict[tuple[str, str], dict[str, str]] = {}
        # CREATE VIEW text, for SHOW CREATE VIEW / ALTER VIEW
        self._views: dict[str, str] = {}
        # CREATE FUNCTION names (FunctionCatalog's user-defined set,
        # served by the gateway's listUserDefinedFunctions)
        self._created_functions: set[str] = set()
        # ADD/REMOVE/SHOW JARS registry (SqlAddJar & co.; jars also go
        # to the live session via Spark's own ADD JAR)
        self._jars: list[str] = []
        # interactive statement set (SqlBeginStatementSet /
        # SqlEndStatementSet): non-None while buffering INSERTs
        self._stmt_buffer: list[str] | None = None
        # Flink-spelled SQL functions (SPLIT_INDEX, IS_DIGIT, ...) become
        # SQL scalar UDFs — JVM-side, inlined into the Catalyst plan
        register_sql_functions(spark)

    # EnvironmentSettings-style constructors
    @classmethod
    def create(cls, spark: SparkSession, streaming=False) -> "TableEnvironment":
        """Accepts the mode as a bool or an EnvironmentSettings
        (EnvironmentSettings.java inStreamingMode/inBatchMode — the
        reference's create(settings) spelling)."""
        if isinstance(streaming, EnvironmentSettings):
            streaming = streaming.streaming
        return cls(spark, streaming=streaming)

    # -- statements ----------------------------------------------------------
    def execute_sql(self, stmt: str) -> TableResult:
        stmt = stmt.strip().rstrip(";").strip()
        if self._config.get("table.sql-dialect", "default").strip().lower() == "hive":
            # SqlDialect.HIVE (TableConfig.setSqlDialect; parsed by
            # flink-sql-parser-hive in the reference): translate the
            # Hive spelling onto the default-dialect surface
            from flink_release_1_16_0_spark.hive_dialect import translate_hive

            stmt = translate_hive(self, stmt)
        up = stmt.upper()
        # interactive statement set (SqlBeginStatementSet/
        # SqlEndStatementSet, Parser.tdd:526-527 — the SQL-client form):
        # between BEGIN STATEMENT SET; and END; only INSERTs are
        # accepted and they execute together at END
        if self._stmt_buffer is not None:
            if up == "END":
                inserts, self._stmt_buffer = self._stmt_buffer, None
                sset = self.create_statement_set()
                for part in inserts:
                    sset.add_insert_sql(part)
                return sset.execute()
            if up.startswith("INSERT"):
                self._stmt_buffer.append(stmt)
                return TableResult(rows=["OK"])
            raise ValueError(
                "only INSERT statements are allowed inside a statement "
                f"set (got {stmt.split()[0]!r}); terminate with END"
            )
        if re.match(r"BEGIN\s+STATEMENT\s+SET", up):
            self._stmt_buffer = []
            return TableResult(rows=["OK"])
        if re.match(r"EXECUTE\s+STATEMENT\s+SET", up):
            body = re.sub(
                r"^EXECUTE\s+STATEMENT\s+SET\s+BEGIN\s+|\s+END$",
                "",
                stmt,
                flags=re.IGNORECASE | re.DOTALL,
            )
            sset = self.create_statement_set()
            for part in _split_outside_literals(body, ";"):
                if part.strip():
                    sset.add_insert_sql(part)
            return sset.execute()
        if re.match(r"COMPILE\s+(?:AND\s+EXECUTE\s+)?PLAN", up):
            return self._compile_plan(stmt)
        if re.match(r"EXECUTE\s+PLAN", up):
            m = re.fullmatch(r"EXECUTE\s+PLAN\s+'([^']+)'", stmt, re.IGNORECASE)
            if not m:
                raise ValueError(f"cannot parse EXECUTE PLAN: {stmt!r}")
            from flink_release_1_16_0_spark.plans.compiled_plan import execute_plan

            return execute_plan(self, m.group(1))
        if re.match(r"EXECUTE\s", up):
            # SqlExecute (parserImpls.ftl:1997): EXECUTE wraps a query
            # or an INSERT (statement sets / plans matched above) —
            # unwrap and re-dispatch
            return self.execute_sql(stmt[len("EXECUTE"):])
        if re.match(r"SET\s*$", up):
            rows = sorted(self._config.items())
            return TableResult(rows=rows)
        if up.startswith("SET"):
            m = re.fullmatch(r"SET\s+'([^']+)'\s*=\s*'([^']*)'", stmt, re.IGNORECASE)
            if not m:
                raise ValueError(f"cannot parse SET (expected SET 'k'='v'): {stmt!r}")
            key, val = m.group(1), m.group(2)
            if key.startswith("spark."):
                if key not in self._config_originals:
                    self._config_originals[key] = self.spark.conf.get(key, None)
                self.spark.conf.set(key, val)
            self._config[key] = val
            return TableResult(rows=["OK"])
        if up.startswith("RESET"):
            m = re.fullmatch(r"RESET(?:\s+'([^']+)')?", stmt, re.IGNORECASE)
            keys = [m.group(1)] if m and m.group(1) else list(self._config)
            for key in keys:
                self._config.pop(key, None)
                if key.startswith("spark."):
                    # Restore the pre-SET value; conf.unset would fall
                    # back to Spark's hard default, losing the session
                    # builder's configuration. A key never SET through
                    # this facade has no recorded original and the
                    # session conf must not be touched at all.
                    if key not in self._config_originals:
                        continue
                    orig = self._config_originals.pop(key)
                    if orig is None:
                        self.spark.conf.unset(key)
                    else:
                        self.spark.conf.set(key, orig)
            return TableResult(rows=["OK"])
        if up.startswith("ANALYZE TABLE"):
            return self._analyze(stmt)
        if re.match(r"ALTER\s+DATABASE", up):
            # SqlAlterDatabase: ALTER DATABASE [cat.]db SET ('k'='v',...)
            m = re.fullmatch(
                r"ALTER\s+DATABASE\s+([\w.]+)\s+SET\s*\((.*)\)",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(f"cannot parse ALTER DATABASE: {stmt!r}")
            cat, db = self._split_db_path(m.group(1))
            if db not in self._databases[cat]:
                raise ValueError(f"unknown database {db!r} in catalog {cat!r}")
            props = self._db_props.setdefault((cat, db), {})
            for pair in _split_top_level(m.group(2)):
                km = _parse_option_pair(pair)
                if not km:
                    raise ValueError(f"cannot parse SET option {pair!r}")
                props[km[0]] = km[1]
            return TableResult(rows=["OK"])
        if re.match(r"DESC(?:RIBE)?\s+DATABASE", up):
            # SqlDescribeDatabase: name + comment, EXTENDED adds props
            m = re.fullmatch(
                r"DESC(?:RIBE)?\s+DATABASE\s+(EXTENDED\s+)?([\w.]+)",
                stmt,
                re.IGNORECASE,
            )
            if not m:
                raise ValueError(f"cannot parse DESCRIBE DATABASE: {stmt!r}")
            cat, db = self._split_db_path(m.group(2))
            if db not in self._databases[cat]:
                raise ValueError(f"unknown database {db!r} in catalog {cat!r}")
            props = self._db_props.get((cat, db), {})
            rows = [
                ("name", db),
                ("catalog", cat),
                ("comment", props.get("comment", "")),
            ]
            if m.group(1):
                rows += [
                    (f"option:{k}", v)
                    for k, v in sorted(props.items())
                    if k != "comment"
                ]
            return TableResult(rows=rows)
        if re.match(r"ALTER\s+VIEW", up):
            # SqlAlterView: RENAME TO, or AS <query> (redefinition)
            m = re.fullmatch(
                r"ALTER\s+VIEW\s+(?P<name>[\w.]+)\s+"
                r"(?:RENAME\s+TO\s+(?P<to>[\w.]+)|AS\s+(?P<query>.+))",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(f"cannot parse ALTER VIEW: {stmt!r}")
            name = m.group("name")
            if name not in self._views:
                raise ValueError(f"unknown view {name!r}")
            if m.group("to"):
                new = m.group("to")
                query = self._views.pop(name)
                self.spark.sql(
                    rewrite_window_tvfs(self._resolve_qualified_refs(query))
                ).createOrReplaceTempView(new)
                self.spark.catalog.dropTempView(name)
                self._views[new] = query
            else:
                query = m.group("query")
                self.spark.sql(
                    rewrite_window_tvfs(self._resolve_qualified_refs(query))
                ).createOrReplaceTempView(name)
                self._views[name] = query
            return TableResult(rows=["OK"])
        if re.match(r"ALTER\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION", up):
            # SqlAlterFunction: redefinition of an existing function —
            # same body grammar as CREATE FUNCTION, must already exist
            fname_m = re.match(
                r"ALTER\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
                r"(?P<name>[\w.]+)",
                stmt,
                re.IGNORECASE,
            )
            if not fname_m:
                raise ValueError(f"cannot parse ALTER FUNCTION: {stmt!r}")
            fname = fname_m.group("name")
            if not any(
                f.name.lower() == fname.lower()
                for f in self.spark.catalog.listFunctions()
            ):
                raise ValueError(f"unknown function {fname!r}")
            return self._create_function(
                re.sub(r"^ALTER\b", "CREATE", stmt, flags=re.IGNORECASE)
            )
        if re.match(r"ADD\s+JAR", up):
            m = re.fullmatch(r"ADD\s+JAR\s+'([^']+)'", stmt, re.IGNORECASE)
            if not m:
                raise ValueError(f"cannot parse ADD JAR: {stmt!r}")
            path = m.group(1)
            if path not in self._jars:
                self._jars.append(path)
                self.spark.sql(f"ADD JAR '{path}'")
            return TableResult(rows=["OK"])
        if re.match(r"REMOVE\s+JAR", up):
            m = re.fullmatch(r"REMOVE\s+JAR\s+'([^']+)'", stmt, re.IGNORECASE)
            if not m:
                raise ValueError(f"cannot parse REMOVE JAR: {stmt!r}")
            path = m.group(1)
            if path not in self._jars:
                raise ValueError(f"jar {path!r} was not added")
            # the classpath entry cannot be unloaded from a live JVM
            # (same restriction as the reference's session JARs before
            # restart); the registry drop stops SHOW JARS listing it
            self._jars.remove(path)
            return TableResult(rows=["OK"])
        if up.startswith("SHOW JARS"):
            return TableResult(rows=list(self._jars))
        if up.startswith("SHOW JOBS"):
            # SqlShowJobs (FLINK-28738, 1.16's sql-client job lifecycle
            # statements): one row per ACTIVE streaming query on this
            # session — id, name, status, and whether the latest batch
            # made progress. Batch queries are jobs only while running,
            # which a synchronous REPL never observes, matching the
            # reference's empty list for finished batch work.
            rows = []
            for q in self.spark.streams.active:
                status = (
                    "RUNNING"
                    if q.isActive and q.exception() is None
                    else "FAILED"
                )
                rows.append(
                    f"{q.id} | {q.name or '(unnamed)'} | {status}"
                )
            return TableResult(rows=rows)
        m = re.fullmatch(r"STOP\s+JOB\s+'([^']+)'", stmt, re.IGNORECASE)
        if m:
            # SqlStopJob (FLINK-28738): graceful stop of one streaming
            # query by id (the reference's stop-with-savepoint maps to
            # Structured Streaming's checkpoint-on-stop)
            target = m.group(1)
            for q in self.spark.streams.active:
                if str(q.id) == target or (q.name or "") == target:
                    q.stop()
                    return TableResult(rows=["OK"])
            raise ValueError(f"no active job {target!r} (SHOW JOBS lists ids)")
        if up.startswith("ALTER TABLE"):
            return self._alter_table(stmt)
        if up.startswith("CREATE") and re.match(
            r"CREATE\s+(?:TEMPORARY\s+)?TABLE", up
        ):
            ctas = _CTAS_RE.fullmatch(stmt)
            if ctas:
                return self._create_table_as(ctas)
            return self._create_table(stmt)
        if up.startswith("CREATE") and re.match(r"CREATE\s+(?:TEMPORARY\s+)?VIEW", up):
            m = _CREATE_VIEW_RE.fullmatch(stmt)
            if not m:
                raise ValueError(f"cannot parse CREATE VIEW: {stmt!r}")
            self.spark.sql(rewrite_window_tvfs(m.group("query"))).createOrReplaceTempView(
                m.group("name")
            )
            self._views[m.group("name")] = m.group("query")
            return TableResult(rows=["OK"])
        if re.match(r"LOAD\s+MODULE", up):
            # SqlLoadModule (Parser.tdd:88): LOAD MODULE name [WITH
            # ('k'='v')] appends the module (loaded + used) and makes
            # its function namespace resolvable
            m = re.fullmatch(
                r"LOAD\s+MODULE\s+(\w+)(?:\s+WITH\s*\(.*\))?",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(f"cannot parse LOAD MODULE: {stmt!r}")
            name = m.group(1).lower()
            from flink_release_1_16_0_spark.functions.sql_udfs import (
                MODULE_FUNCTIONS,
            )

            if name in self._modules:
                raise ValueError(f"module {name!r} is already loaded")
            if name not in MODULE_FUNCTIONS:
                raise ValueError(
                    f"unknown module {name!r} "
                    f"(available: {sorted(MODULE_FUNCTIONS)})"
                )
            register_sql_functions(self.spark, name)
            self._modules[name] = True
            return TableResult(rows=["OK"])
        if re.match(r"UNLOAD\s+MODULE", up):
            m = re.fullmatch(r"UNLOAD\s+MODULE\s+(\w+)", stmt, re.IGNORECASE)
            if not m:
                raise ValueError(f"cannot parse UNLOAD MODULE: {stmt!r}")
            name = m.group(1).lower()
            if name not in self._modules:
                raise ValueError(f"module {name!r} is not loaded")
            from flink_release_1_16_0_spark.functions.sql_udfs import (
                deregister_sql_functions,
            )

            deregister_sql_functions(self.spark, name)
            del self._modules[name]
            return TableResult(rows=["OK"])
        if re.match(r"USE\s+MODULES", up):
            # SqlUseModules: declares the USED set and resolution order;
            # unlisted loaded modules stay loaded but stop resolving
            names = [
                n.strip().lower()
                for n in re.sub(
                    r"^USE\s+MODULES\s+", "", stmt, flags=re.IGNORECASE
                ).split(",")
            ]
            unknown = [n for n in names if n not in self._modules]
            if unknown:
                raise ValueError(f"modules not loaded: {unknown}")
            if len(set(names)) != len(names):
                raise ValueError("duplicate module names in USE MODULES")
            from flink_release_1_16_0_spark.functions.sql_udfs import (
                deregister_sql_functions,
            )

            reordered = {n: True for n in names}
            for n in self._modules:
                if n not in reordered:
                    reordered[n] = False
                    deregister_sql_functions(self.spark, n)
            for n in names:
                register_sql_functions(self.spark, n)
            self._modules = reordered
            return TableResult(rows=["OK"])
        if up.startswith("SHOW FULL MODULES"):
            return TableResult(
                rows=[(n, used) for n, used in self._modules.items()]
            )
        if up.startswith("SHOW MODULES"):
            return TableResult(
                rows=[n for n, used in self._modules.items() if used]
            )
        if re.match(r"CREATE\s+CATALOG", up):
            # SqlCreateCatalog (Parser.tdd:50): CREATE CATALOG name
            # [WITH ('k'='v', ...)] — an in-memory named catalog over
            # the session store (GenericInMemoryCatalog equivalent)
            m = re.fullmatch(
                r"CREATE\s+CATALOG\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)"
                r"(?:\s+COMMENT\s+'(?P<comment>[^']*)')?"
                r"(?:\s+WITH\s*\((?P<opts>.*)\))?",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(f"cannot parse CREATE CATALOG: {stmt!r}")
            name = m.group(1)
            if name in self._catalogs:
                if "IF NOT EXISTS" in up:
                    return TableResult(rows=["OK"])
                raise ValueError(f"catalog {name!r} already exists")
            props: dict[str, str] = {"type": "generic_in_memory"}
            if m.group("opts"):
                for pair in _split_top_level(m.group("opts")):
                    km = _parse_option_pair(pair)
                    if not km:
                        raise ValueError(f"cannot parse WITH option {pair!r}")
                    props[km[0]] = km[1]
            if m.group("comment") is not None:
                props["comment"] = m.group("comment")
            self._catalogs[name] = props
            default_db = props.get("default-database", "default_database")
            self._databases[name] = {default_db}
            return TableResult(rows=["OK"])
        if re.match(r"DROP\s+CATALOG", up):
            m = re.fullmatch(
                r"DROP\s+CATALOG\s+(?:IF\s+EXISTS\s+)?(\w+)", stmt, re.IGNORECASE
            )
            if not m:
                raise ValueError(f"cannot parse DROP CATALOG: {stmt!r}")
            name = m.group(1)
            if name not in self._catalogs:
                if "IF EXISTS" in up:
                    return TableResult(rows=["OK"])
                raise ValueError(f"unknown catalog {name!r}")
            if name == "default_catalog":
                raise ValueError("cannot drop the default catalog")
            if name == self._current_catalog:
                # CatalogManager.unregisterCatalog: the current catalog
                # cannot be dropped
                raise ValueError(f"cannot drop the current catalog {name!r}")
            if any(t.catalog == name for t in self._tables.values()):
                raise ValueError(f"catalog {name!r} is not empty")
            del self._catalogs[name]
            del self._databases[name]
            return TableResult(rows=["OK"])
        if re.match(r"USE\s+CATALOG", up):
            name = stmt.split()[-1]
            if name not in self._catalogs:
                raise ValueError(f"unknown catalog {name!r}")
            if name != self._current_catalog:
                self._current_catalog = name
                # setCurrentCatalog resets the current database to the
                # catalog's default database (CatalogManager.java:275)
                self._current_db = self._catalogs[name].get(
                    "default-database", "default_database"
                )
            return TableResult(rows=["OK"])
        if up.startswith("SHOW CATALOGS"):
            return TableResult(rows=sorted(self._catalogs))
        if up.startswith("SHOW CURRENT CATALOG"):
            return TableResult(rows=[self._current_catalog])
        if re.match(r"DESC(?:RIBE)?\s+CATALOG", up):
            m = re.fullmatch(
                r"DESC(?:RIBE)?\s+CATALOG\s+(EXTENDED\s+)?(\w+)",
                stmt,
                re.IGNORECASE,
            )
            if not m:
                raise ValueError(f"cannot parse DESCRIBE CATALOG: {stmt!r}")
            name = m.group(2)
            if name not in self._catalogs:
                raise ValueError(f"unknown catalog {name!r}")
            props = self._catalogs[name]
            rows = [("name", name), ("type", props.get("type", ""))]
            rows.append(("comment", props.get("comment", "")))
            if m.group(1):
                rows += [
                    (f"option:{k}", v)
                    for k, v in sorted(props.items())
                    if k not in ("type", "comment")
                ]
            return TableResult(rows=rows)
        if re.match(r"DROP\s+DATABASE", up):
            name = stmt.split()[-1]
            cat, name = self._split_db_path(name)
            dbs = self._databases[cat]
            if name == "default_database":
                raise ValueError("cannot drop the default database")
            if any(
                t.catalog == cat and t.database == name
                for t in self._tables.values()
            ):
                raise ValueError(f"database {name!r} is not empty")
            dbs.discard(name)
            if cat == self._current_catalog and self._current_db == name:
                self._current_db = "default_database"
            return TableResult(rows=["OK"])
        if re.match(r"DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION", up):
            # SqlDropFunction (SqlDropExtended)
            m = re.fullmatch(
                r"DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
                r"(?:IF\s+EXISTS\s+)?([\w.]+)",
                stmt,
                re.IGNORECASE,
            )
            if not m:
                raise ValueError(f"cannot parse DROP FUNCTION: {stmt!r}")
            if_exists = "IF EXISTS" in up
            self.spark.sql(
                f"DROP TEMPORARY FUNCTION {'IF EXISTS ' if if_exists else ''}"
                f"{m.group(1)}"
            )
            self._created_functions.discard(m.group(1))
            return TableResult(rows=["OK"])
        if up.startswith("DROP"):
            m = _DROP_RE.fullmatch(stmt)
            if not m:
                raise ValueError(f"cannot parse DROP: {stmt!r}")
            name = self._resolve_table_name(m.group("name"))
            self._tables.pop(name, None)
            self._views.pop(name, None)
            self.spark.catalog.dropTempView(name)
            return TableResult(rows=["OK"])
        if up.startswith("INSERT"):
            m = _INSERT_RE.fullmatch(stmt)
            if not m:
                raise ValueError(f"cannot parse INSERT: {stmt!r}")
            return self._insert(
                m.group("name"),
                m.group("query"),
                m.group("mode").upper() == "OVERWRITE",
                m.group("parts"),
                m.group("cols"),
            )
        if up.startswith("SHOW CREATE TABLE"):
            name = self._resolve_table_name(stmt.split()[-1])
            if name not in self._tables:
                raise ValueError(f"unknown table {name!r}")
            t = self._tables[name]
            parts = [
                f"{c.name} {c.spark_type}" + (" NOT NULL" if c.not_null else "")
                for c in t.columns
            ]
            parts += [f"{n} AS {e}" for n, e in t.computed]
            if t.watermark:
                wcol, delay = t.watermark
                n_, u_ = delay.split()
                parts.append(
                    f"WATERMARK FOR {wcol} AS {wcol} - INTERVAL '{n_}' {u_.rstrip('s').upper()}"
                )
            if t.primary_key:
                parts.append(f"PRIMARY KEY ({', '.join(t.primary_key)}) NOT ENFORCED")
            opts = ", ".join(f"'{k}' = '{v}'" for k, v in sorted(t.options.items()))
            part_clause = (
                f"\nPARTITIONED BY ({', '.join(t.partitioned_by)})"
                if t.partitioned_by
                else ""
            )
            ddl = (
                f"CREATE TABLE {name} (\n  "
                + ",\n  ".join(parts)
                + f"\n){part_clause} WITH ({opts})"
            )
            return TableResult(rows=[ddl])
        if up.startswith("SHOW CREATE VIEW"):
            name = stmt.split()[-1]
            if name not in self._views:
                raise ValueError(f"unknown view {name!r}")
            return TableResult(
                rows=[f"CREATE VIEW {name} AS {self._views[name].strip()}"]
            )
        if up.startswith("SHOW COLUMNS"):
            # SqlShowColumns: SHOW COLUMNS (FROM | IN) t [[NOT] LIKE 'p']
            m = re.fullmatch(
                r"SHOW\s+COLUMNS\s+(?:FROM|IN)\s+(?P<t>[\w.]+)"
                r"(?:\s+(?P<not>NOT\s+)?LIKE\s+'(?P<pat>[^']*)')?",
                stmt,
                re.IGNORECASE,
            )
            if not m:
                raise ValueError(f"cannot parse SHOW COLUMNS: {stmt!r}")
            name = self._resolve_table_name(m.group("t"))
            if name in self._tables:
                t = self._tables[name]
                cols = [
                    (c.name, c.spark_type, not c.not_null) for c in t.columns
                ] + [(n, "computed", True) for n, _e in t.computed]
            else:
                cols = [
                    (f.name, f.dataType.simpleString(), f.nullable)
                    for f in self.spark.table(name).schema
                ]
            if m.group("pat") is not None:
                # SQL LIKE pattern: % = any run, _ = any single char
                rx = re.compile(
                    "^"
                    + re.escape(m.group("pat"))
                    .replace("%", ".*")
                    .replace("_", ".")
                    + "$"
                )
                negate = bool(m.group("not"))
                cols = [
                    c for c in cols if bool(rx.match(c[0])) != negate
                ]
            return TableResult(rows=cols)
        if up.startswith("SHOW VIEWS"):
            views = sorted(
                t.name
                for t in self.spark.catalog.listTables()
                if t.isTemporary and t.name not in self._tables
            )
            return TableResult(rows=views)
        if re.match(r"CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION", up):
            return self._create_function(stmt)
        if up.startswith("SHOW FUNCTIONS"):
            return TableResult(
                rows=sorted(f.name for f in self.spark.catalog.listFunctions())
            )
        if re.match(r"CREATE\s+DATABASE", up):
            m = re.fullmatch(
                r"CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)"
                r"(?:\s+COMMENT\s+'(?P<comment>[^']*)')?"
                r"(?:\s+WITH\s*\((?P<opts>.*)\))?",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(f"cannot parse CREATE DATABASE: {stmt!r}")
            cat, name = self._split_db_path(m.group(1))
            if name in self._databases[cat] and "IF NOT EXISTS" not in up:
                raise ValueError(f"database {name!r} already exists")
            self._databases[cat].add(name)
            props: dict[str, str] = {}
            if m.group("comment") is not None:
                props["comment"] = m.group("comment")
            if m.group("opts"):
                for pair in _split_top_level(m.group("opts")):
                    km = _parse_option_pair(pair)
                    if not km:
                        raise ValueError(f"cannot parse WITH option {pair!r}")
                    props[km[0]] = km[1]
            if props:
                self._db_props[(cat, name)] = props
            return TableResult(rows=["OK"])
        if up.startswith("USE "):
            cat, name = self._split_db_path(stmt.split()[-1])
            if name not in self._databases[cat]:
                raise ValueError(f"unknown database {name!r}")
            self._current_catalog = cat
            self._current_db = name
            return TableResult(rows=["OK"])
        if up.startswith("SHOW DATABASES"):
            return TableResult(rows=sorted(self._databases[self._current_catalog]))
        if up.startswith("SHOW CURRENT DATABASE"):
            return TableResult(rows=[self._current_db])
        if up.startswith("SHOW PARTITIONS"):
            # SHOW PARTITIONS t (Parser.tdd SqlShowPartitions; filesystem
            # connector partition discovery): list partition-value dirs
            # of a PARTITIONED BY table, hive-style `col=value` paths.
            name = stmt.split()[-1]
            t = self._tables.get(name)
            if t is None or not t.partitioned_by:
                raise ValueError(f"{name!r} is not a partitioned catalog table")
            base = t.options.get("path")
            parts = []

            def walk(d: str, depth: int, prefix: str):
                if depth == len(t.partitioned_by):
                    parts.append(prefix.rstrip("/"))
                    return
                for e in sorted(os.listdir(d)):
                    if "=" in e and os.path.isdir(os.path.join(d, e)):
                        walk(os.path.join(d, e), depth + 1, prefix + e + "/")

            if base and os.path.isdir(base):
                walk(base, 0, "")
            return TableResult(rows=parts)
        if up.startswith("SHOW TABLES"):
            # SqlShowTables: SHOW TABLES [FROM|IN [cat.]db]
            # [[NOT] LIKE 'pat'] — pattern is SQL LIKE (% and _)
            m = re.fullmatch(
                r"SHOW\s+TABLES"
                r"(?:\s+(?:FROM|IN)\s+(?P<db>[\w.]+))?"
                r"(?:\s+(?P<not>NOT\s+)?LIKE\s+'(?P<pat>[^']*)')?",
                stmt,
                re.IGNORECASE,
            )
            if not m:
                raise ValueError(f"cannot parse SHOW TABLES: {stmt!r}")
            if m.group("db"):
                cat, db = self._split_db_path(m.group("db"))
                if db not in self._databases[cat]:
                    raise ValueError(
                        f"unknown database {db!r} in catalog {cat!r}"
                    )
            else:
                cat, db = self._current_catalog, self._current_db
            in_db = {
                n
                for n, t in self._tables.items()
                if t.catalog == cat and t.database == db
            }
            other_db = set(self._tables) - in_db
            names = sorted(
                in_db
                | {
                    t.name
                    for t in self.spark.catalog.listTables()
                    if t.isTemporary and t.name not in other_db
                }
            )
            if m.group("pat") is not None:
                rx = re.compile(
                    "^"
                    + re.escape(m.group("pat"))
                    .replace("%", ".*")
                    .replace("_", ".")
                    + "$"
                )
                negate = bool(m.group("not"))
                names = [n for n in names if bool(rx.match(n)) != negate]
            return TableResult(rows=names)
        if up.startswith("DESCRIBE") or up.startswith("DESC "):
            name = self._resolve_table_name(stmt.split()[-1])
            extended = bool(re.match(r"DESC(?:RIBE)?\s+EXTENDED\s", up))
            if name in self._tables:
                t = self._tables[name]
                rows = [(c.name, c.spark_type, not c.not_null) for c in t.columns]
                if extended and t.stats:
                    rows += [("# stats", k, str(v)) for k, v in sorted(t.stats.items())]
                return TableResult(rows=rows)
            df = self.spark.table(name)
            return TableResult(
                rows=[(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema]
            )
        if up.startswith("EXPLAIN"):
            # Flink's `EXPLAIN [PLAN FOR | <details> ]` (ExplainDetail
            # enum) -> Spark's native EXPLAIN modes: ESTIMATED_COST ->
            # COST; CHANGELOG_MODE has no Spark dual for arbitrary SQL
            # (the changelog-inference pass operates on the operator
            # tree — plans/changelog_inference.py)
            q = re.sub(r"^EXPLAIN(\s+PLAN\s+FOR)?\s+", "", stmt, flags=re.IGNORECASE)
            mode = "FORMATTED"
            dm = re.match(
                r"\s*(ESTIMATED_COST|CHANGELOG_MODE|JSON_EXECUTION_PLAN)\s+",
                q,
                re.IGNORECASE,
            )
            if dm:
                detail = dm.group(1).upper()
                q = q[dm.end() :]
                if detail == "ESTIMATED_COST":
                    mode = "COST"
                elif detail == "CHANGELOG_MODE":
                    return TableResult(df=self._explain_changelog_mode(q))
                else:  # JSON_EXECUTION_PLAN
                    mode = "FORMATTED"
            return TableResult(df=self.spark.sql(f"EXPLAIN {mode} {q}"))
        return TableResult(df=self.spark.sql(self._rewrite_query(stmt)))

    def sql_query(self, sql: str) -> Table:
        q = self._rewrite_query(sql)
        try:
            return Table(self.spark.sql(q), self)
        except Exception:
            # multi-column UNNEST is lowered to inline() (array of
            # rows) first; a MAP input needs explode() instead — retry
            # with the alternate generator (the dialect cannot know the
            # operand type from text alone)
            alt = self._rewrite_query(sql, unnest_multi="explode")
            if alt != q:
                return Table(self.spark.sql(alt), self)
            raise

    # -- catalog path resolution (CatalogManager.qualifyIdentifier) ---------
    def _split_db_path(self, path: str) -> tuple[str, str]:
        """``[catalog.]database`` -> (catalog, database); the catalog
        must exist."""
        parts = path.split(".")
        if len(parts) == 1:
            return self._current_catalog, parts[0]
        if len(parts) == 2:
            if parts[0] not in self._catalogs:
                raise ValueError(f"unknown catalog {parts[0]!r}")
            return parts[0], parts[1]
        raise ValueError(f"cannot parse database path {path!r}")

    def _qualify_table_path(self, name: str) -> tuple[str, str, str]:
        """``[[catalog.]database.]table`` -> (catalog, database, table),
        defaulting missing parts to the current catalog/database —
        CatalogManager.qualifyIdentifier(UnresolvedIdentifier)."""
        parts = name.split(".")
        if len(parts) == 1:
            return self._current_catalog, self._current_db, parts[0]
        if len(parts) == 2:
            return self._current_catalog, parts[0], parts[1]
        if len(parts) == 3:
            return parts[0], parts[1], parts[2]
        raise ValueError(f"cannot parse table path {name!r}")

    def _resolve_table_name(self, name: str) -> str:
        """Resolve a possibly-qualified table reference to the bare
        session-global name, validating catalog/database attribution
        for qualified forms. Unqualified names pass through (temp views
        are session-global, like the reference's temporary tables)."""
        if "." not in name:
            return name
        cat, db, bare = self._qualify_table_path(name)
        if cat not in self._catalogs:
            raise ValueError(f"unknown catalog {cat!r}")
        if db not in self._databases[cat]:
            raise ValueError(f"unknown database {db!r} in catalog {cat!r}")
        t = self._tables.get(bare)
        if t is not None and (t.catalog, t.database) != (cat, db):
            raise ValueError(
                f"table {bare!r} exists in {t.catalog}.{t.database}, "
                f"not {cat}.{db}"
            )
        return bare

    def _resolve_qualified_refs(self, sql: str) -> str:
        """Rewrite known ``catalog.db.table`` / ``db.table`` references
        to their session-global names so Spark's analyzer resolves them
        (temp views are one-part). Only TABLE POSITIONS are rewritten —
        after FROM / JOIN / INTO / TABLE( — so a select-list
        ``alias.column`` (or ``alias.struct.field``) that happens to
        spell a registered path is never mangled. Skips string
        literals."""
        known: dict[str, str] = {}
        for bare, t in self._tables.items():
            known[f"{t.catalog}.{t.database}.{bare}"] = bare
            if t.catalog == self._current_catalog:
                known[f"{t.database}.{bare}"] = bare
        # TABLE with or without the paren covers both `TABLE(...)` TVF
        # wrapping and the TVF's inner `TABLE db.t` argument. After a
        # table-position keyword the scan follows a comma-separated
        # reference list (`FROM db.a x, db.b y`), rewriting every
        # qualified reference — the classic implicit-cross-join spelling.
        head_pat = re.compile(r"(?i)\b(?:FROM|JOIN|INTO|TABLE)\b\s*\(?\s*")
        ref_pat = re.compile(r"[A-Za-z_]\w*(?:\.\w+){0,2}")
        alias_pat = re.compile(r"\s+(?:AS\s+)?[A-Za-z_]\w*", re.IGNORECASE)
        cont_pat = re.compile(r"\s*,\s*")
        # `FROM (SELECT a, b ...)` must not have its select list walked
        # as a table list — a leading keyword stops the scan
        stop_words = {"select", "values", "with"}
        # a dotted path in table position naming one of our catalogs
        # that did NOT resolve is a resolution error — surface it with
        # attribution detail instead of Spark's namespace exception
        cats = set(self._catalogs)

        def rewrite_ref(path: str) -> str:
            if path in known:
                return known[path]
            parts = path.split(".")
            if len(parts) == 3 and parts[0] in cats:
                # raises with the existing-attribution message
                self._resolve_table_name(path)
                raise ValueError(f"cannot resolve table path {path!r}")
            return path

        def scan(seg: str) -> str:
            out: list[str] = []
            pos = 0
            while True:
                h = head_pat.search(seg, pos)
                if h is None:
                    out.append(seg[pos:])
                    return "".join(out)
                out.append(seg[pos : h.end()])
                pos = h.end()
                while True:
                    r = ref_pat.match(seg, pos)
                    if r is None or r.group(0).split(".")[0].lower() in stop_words:
                        break
                    out.append(rewrite_ref(r.group(0)))
                    pos = r.end()
                    a = alias_pat.match(seg, pos)
                    c = cont_pat.match(seg, a.end() if a else pos)
                    if c is None:
                        break
                    out.append(seg[pos : c.end()])
                    pos = c.end()

        out = []
        for is_lit, seg in _split_sql_literals(sql):
            out.append(seg if is_lit else scan(seg))
        return "".join(out)

    def _rewrite_query(self, sql: str, unnest_multi: str = "inline") -> str:
        """Dialect passes: dynamic table OPTIONS hints, MATCH_RECOGNIZE
        (materializes the CEP view), temporal table functions (LATERAL
        TABLE), event-time FOR SYSTEM_TIME (as-of operator), UNNEST
        correlates, then windowing TVFs / proc-time FOR SYSTEM_TIME
        (snapshot join)."""
        sql = self._resolve_qualified_refs(sql)
        sql = self._apply_options_hints(sql)
        sql = _translate_match_recognize(self, sql)
        sql = self._translate_lateral_temporal(sql)
        sql = self._translate_event_time_temporal_join(sql)
        sql = _rewrite_unnest(sql, multi=unnest_multi)
        return rewrite_window_tvfs(sql)

    def _maybe_lateness_window_agg(self, query: str) -> DataFrame | None:
        """Dispatch a streaming tumble-window agg to the allowed-
        lateness operator when ``table.exec.emit.allow-lateness`` (+
        late-fire) is configured — the reference's WindowEmitStrategy
        lateness path, which Spark's native window agg cannot serve
        (state drops at the watermark, so late-but-allowed rows are
        lost).

        Covered shape: ``SELECT window_start [AS a] [, <keys>]
        [, COUNT(*) AS n] [, SUM(col) AS t] FROM TABLE(TUMBLE(TABLE
        src, DESCRIPTOR(ts), INTERVAL 'n' U)) GROUP BY window_start
        [, keys]``. Returns None when lateness is not configured or the
        query has no tumble TVF; raises for an unsupported agg shape so
        a configured lateness is never silently ignored. The emitted
        update stream keeps ``+I/+U`` firings (``-U`` is dropped on the
        way to the sink — ONLY_UPDATE_AFTER, the encoding the reference
        hands upsert sinks)."""
        lateness = self._config.get("table.exec.emit.allow-lateness")
        late_fire = (
            self._config.get("table.exec.emit.late-fire.enabled", "false")
            == "true"
        )
        if not (self.streaming and lateness and late_fire):
            return None
        # SESSION deliberately absent: the reference IGNORES
        # allow-lateness for session windows ("retraction is not
        # supported", WindowEmitStrategy.scala:176-177) and throws on
        # session + early/late-fire (:47-48) — falling through to the
        # native session path reproduces the ignore behavior.
        tvf = re.search(
            r"TABLE\s*\(\s*(TUMBLE|HOP)\s*\(\s*TABLE\s+(\w+)\s*,\s*DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,"
            r"\s*(INTERVAL\s+'[^']+'\s+\w+)\s*(?:,\s*(INTERVAL\s+'[^']+'\s+\w+)\s*)?\)\s*\)",
            query,
            re.IGNORECASE,
        )
        if not tvf:
            return None
        kind = tvf.group(1).upper()
        src, ts_col = tvf.group(2), tvf.group(3)
        # TUMBLE(t, d, size); HOP(t, d, slide, size) — Flink arg order
        ival = tvf.group(5) if kind == "HOP" else tvf.group(4)
        slide_ival = tvf.group(4) if kind == "HOP" else None
        m = re.match(
            r"\s*SELECT\s+(?P<sel>.*?)\s+FROM\s+TABLE.*?GROUP\s+BY\s+(?P<gb>[\w\s,]+?)\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise NotImplementedError(
                "table.exec.emit.allow-lateness: unsupported query shape "
                "(supported: SELECT window_start[, keys][, COUNT(*)]"
                "[, SUM(col)] FROM TABLE(TUMBLE(...)) GROUP BY "
                "window_start[, keys])"
            )
        gb = [g.strip() for g in m.group("gb").split(",")]
        keys = [g for g in gb if g.lower() != "window_start"]
        sel_items = [s.strip() for s in _split_top_level(m.group("sel"))]
        out_exprs: list[tuple[str, str]] = []  # (operator col, out alias)
        aggs: list[tuple] = []
        for it in sel_items:
            am = re.fullmatch(
                r"(?:(window_start)|(window_end)|COUNT\s*\(\s*\*\s*\)|SUM\s*\(\s*(\w+)\s*\)|(\w+))"
                r"(?:\s+AS\s+(\w+))?",
                it,
                re.IGNORECASE,
            )
            if not am:
                raise NotImplementedError(
                    f"allow-lateness dispatch cannot map SELECT item {it!r}"
                )
            alias = am.group(5)
            if am.group(1):  # window_start
                out_exprs.append(("window_start", alias or "window_start"))
            elif am.group(2):  # window_end
                out_exprs.append(("window_end", alias or "window_end"))
            elif am.group(3):  # SUM(col)
                name = f"__agg{len(aggs)}"
                aggs.append((name, "sum", am.group(3), DoubleType()))
                out_exprs.append((name, alias or f"sum_{am.group(3)}"))
            elif am.group(4):  # bare key column
                if am.group(4) not in keys:
                    raise NotImplementedError(
                        f"allow-lateness dispatch: {am.group(4)!r} is not "
                        "a grouping key"
                    )
                out_exprs.append((am.group(4), alias or am.group(4)))
            else:  # COUNT(*)
                name = f"__agg{len(aggs)}"
                aggs.append((name, "count_star", None, LongType()))
                out_exprs.append((name, alias or "n"))
        n_, u_ = re.match(
            r"INTERVAL\s+'([\d.]+)'\s+(\w+)", ival, re.IGNORECASE
        ).groups()
        unit_ms = {
            "SECOND": 1000,
            "MINUTE": 60_000,
            "HOUR": 3_600_000,
            "DAY": 86_400_000,
        }[u_.upper().rstrip("S")]
        window_ms = int(float(n_) * unit_ms)
        slide_ms = None
        if slide_ival is not None:
            sn_, su_ = re.match(
                r"INTERVAL\s+'([\d.]+)'\s+(\w+)", slide_ival, re.IGNORECASE
            ).groups()
            slide_ms = int(
                float(sn_)
                * {
                    "SECOND": 1000,
                    "MINUTE": 60_000,
                    "HOUR": 3_600_000,
                    "DAY": 86_400_000,
                }[su_.upper().rstrip("S")]
            )
        lm = re.fullmatch(r"\s*(\d+)\s*(\w+)\s*", lateness)
        if not lm:
            raise ValueError(
                "table.exec.emit.allow-lateness must be '<n> <unit>' "
                f"(got {lateness!r})"
            )
        lateness_ms = int(lm.group(1)) * {
            "s": 1000,
            "sec": 1000,
            "second": 1000,
            "seconds": 1000,
            "min": 60_000,
            "minute": 60_000,
            "minutes": 60_000,
            "h": 3_600_000,
            "hour": 3_600_000,
            "hours": 3_600_000,
            "d": 86_400_000,
            "day": 86_400_000,
            "days": 86_400_000,
        }[lm.group(2).lower()]
        from flink_release_1_16_0_spark.streaming.changelog import ROWKIND
        from flink_release_1_16_0_spark.streaming.group_window import (
            streaming_group_window_agg,
        )

        stream = self.spark.table(src)
        if not keys:  # global window: one synthetic key group
            stream = stream.withColumn("__g", F.lit(0))
            keys = ["__g"]
        out = streaming_group_window_agg(
            stream,
            keys,
            ts_col,
            aggs,
            kind="tumble" if slide_ms is None else "sliding",
            size_ms=window_ms,
            slide_ms=slide_ms,
            allowed_lateness_ms=lateness_ms,
        )
        # ONLY_UPDATE_AFTER toward the sink: drop the -U half
        out = out.filter(F.col(ROWKIND) != "-U")
        return out.select(
            *[F.col(c).alias(a) for c, a in out_exprs]
        )

    def _explain_changelog_mode(self, q: str) -> DataFrame:
        """EXPLAIN CHANGELOG_MODE <query> (ExplainDetail.CHANGELOG_MODE,
        flink-table-api-java .../ExplainDetail.java): build the
        changelog op-DAG the engine would run for the query and render
        plans/changelog_inference's per-node ModifyKindSet/UpdateKind
        as the reference's ``changelogMode=[I,UB,UA,D]`` tree.

        Covered SQL shape — the engine's streaming changelog surface:
        ``[INSERT INTO tgt] SELECT ... FROM t1 [[LEFT|RIGHT|FULL] JOIN
        t2 ON a = b] [WHERE ...] [GROUP BY cols]``. Source modes come
        from catalog metadata: ``changelog-mode = 'upsert'`` tables are
        upsert sources (keyed by PRIMARY KEY), CDC-format tables
        (debezium/canal/maxwell/ogg) are retract sources, everything
        else is insert-only. A target table with a PRIMARY KEY explains
        as an upsert sink, otherwise append; a bare SELECT explains to
        the collect sink (retract, like the reference's
        TableResult#collect)."""
        from flink_release_1_16_0_spark.plans import changelog_inference as CI

        sink = self._infer_op_dag(q)
        return self.spark.createDataFrame([(CI.render(sink),)], "plan string")

    def _infer_op_dag(self, q: str):
        """Build the changelog op-DAG (plans/changelog_inference node
        tree) for a supported query shape — shared by EXPLAIN
        CHANGELOG_MODE and COMPILE PLAN (the ExecNodeGraph dual).
        Raises ValueError on unsupported shapes."""
        from flink_release_1_16_0_spark.plans import changelog_inference as CI

        _CDC = {"debezium-json", "canal-json", "maxwell-json", "ogg-json"}

        def src_node(tname: str) -> CI.Source:
            t = self._tables.get(tname)
            if t is None:
                node = CI.Source(mode="insert_only")
            elif t.options.get("changelog-mode") == "upsert":
                node = CI.Source(mode="upsert", key=tuple(t.primary_key))
            elif t.options.get("format") in _CDC:
                node = CI.Source(mode="retract", key=tuple(t.primary_key))
            else:
                node = CI.Source(mode="insert_only")
            node.table_name = tname
            return node

        text = q.strip().rstrip(";")
        m_ins = re.match(r"INSERT\s+INTO\s+(\w+)\s+", text, re.IGNORECASE)
        target = None
        if m_ins:
            target = m_ins.group(1)
            text = text[m_ins.end() :]
        m = re.match(
            r"SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<t1>\w+)(?:\s+AS\s+\w+|\s+(?!WHERE|GROUP|LEFT|RIGHT|FULL|INNER|JOIN)\w+)?"
            r"(?:\s+(?P<jt>LEFT|RIGHT|FULL|INNER)?(?:\s+OUTER)?\s*JOIN\s+(?P<t2>\w+)(?:\s+AS\s+\w+|\s+(?!ON)\w+)?"
            r"\s+ON\s+(?P<on>.+?))?"
            r"(?:\s+WHERE\s+(?P<where>.+?))?"
            r"(?:\s+GROUP\s+BY\s+(?P<gb>.+?))?\s*$",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "EXPLAIN CHANGELOG_MODE: unsupported query shape "
                "(supported: [INSERT INTO t] SELECT ... FROM a [JOIN b "
                "ON ...] [WHERE ...] [GROUP BY ...])"
            )
        node: "CI.Node" = src_node(m.group("t1"))
        if m.group("t2"):
            on_cols = tuple(
                c.strip().split(".")[-1]
                for c in re.split(r"=|\bAND\b", m.group("on"), flags=re.IGNORECASE)
            )
            node = CI.Join(
                left=node,
                right=src_node(m.group("t2")),
                on=tuple(dict.fromkeys(on_cols)),
                join_type=(m.group("jt") or "inner").lower(),
            )
        if m.group("where"):
            node = CI.Calc(input=node, predicate=F.expr("true"))
        if m.group("gb"):
            keys = tuple(c.strip() for c in m.group("gb").split(","))
            node = CI.GroupAgg(input=node, keys=keys)
        if target is not None:
            t = self._tables.get(target)
            if t is not None and t.primary_key:
                sink = CI.Sink(input=node, mode="upsert", key=tuple(t.primary_key))
            else:
                sink = CI.Sink(input=node, mode="append")
        else:
            sink = CI.Sink(input=node, mode="retract")
        return sink

    def register_temporal_table_function(
        self, name: str, history_table: str, time_attr: str, primary_key: str
    ) -> None:
        """Register a temporal table function over a versioned history
        table (Table.createTemporalTableFunction + registerFunction —
        the pre-FLIP-132 surface for `LATERAL TABLE (Rates(o.rowtime))`
        joins; TemporalTableFunctionImpl.java). ``primary_key`` columns
        must exist under the same names on both join inputs."""
        self._temporal_fns[name] = (
            history_table,
            time_attr,
            [c.strip() for c in primary_key.split(",")],
        )

    _LATERAL_TEMPORAL_RE = re.compile(
        # the optional function alias must not swallow a following SQL
        # keyword (the no-alias form `... TABLE (Fn(o.ts)) WHERE ...`)
        r"FROM\s+(?P<lt>[\w.]+)\s+(?:AS\s+)?(?P<la>\w+)\s*,\s*"
        r"LATERAL\s+TABLE\s*\(\s*(?P<fn>\w+)\s*\(\s*(?P<ala>\w+)\.(?P<acol>\w+)\s*\)\s*\)\s*"
        r"(?:(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|LIMIT\b|JOIN\b|ON\b"
        r"|UNION\b|HAVING\b)(?P<ra>\w+))?",
        re.IGNORECASE,
    )

    def _translate_lateral_temporal(self, sql: str) -> str:
        """`FROM t o, LATERAL TABLE (Fn(o.rowtime)) r WHERE o.k = r.k`
        -> as-of join of t against the function's history table at the
        row's time (TemporalRowTimeJoinOperator semantics; the WHERE
        equality on the function's primary key is the join key and is
        consumed by the rewrite)."""
        m = self._LATERAL_TEMPORAL_RE.search(sql)
        if not m or m.group("fn") not in self._temporal_fns:
            return sql
        history, time_attr, pk = self._temporal_fns[m.group("fn")]
        la = m.group("la")
        if m.group("ala") != la:
            raise ValueError("LATERAL TABLE argument must reference the left input")
        ra = m.group("ra") or m.group("fn")
        from flink_release_1_16_0_spark.operators.asof import asof_join

        tag = uuid.uuid4().hex[:8]
        ts_alias = f"__asof_ts_{tag}"
        # unique per-lateral version-time column so NESTED temporal
        # joins (two LATERAL TABLEs over one left input,
        # testNestedTemporalJoin) don't collide on __asof_ts
        joined = (
            asof_join(
                self.spark.table(m.group("lt")),
                self.spark.table(history),
                on=pk,
                left_ts=m.group("acol"),
                right_ts=time_attr,
            )
            .filter(F.col("__asof_ts").isNotNull())
            .withColumnRenamed("__asof_ts", ts_alias)
        )
        view = f"__lateral_temporal_{tag}"
        joined.createOrReplaceTempView(view)
        # keep the LEFT alias on the view: later laterals (and the
        # SELECT list) keep resolving `la.col`; only the function
        # alias's qualifier is erased
        out = sql[: m.start()] + f"FROM {view} {la}" + sql[m.end():]
        # consume the WHERE equality on the primary key (now the join
        # key). Either side may carry any qualifier — a nested join's
        # key can come from a PRIOR lateral's output (r.currency =
        # p.currency), already unqualified after that rewrite.
        for col in pk:
            eq = (
                rf"(?:(?:\w+\.)?{col}\s*=\s*{ra}\.{col}"
                rf"|{ra}\.{col}\s*=\s*(?:\w+\.)?{col})"
            )
            # WHERE <eq> AND ...  ->  WHERE ...
            out = re.sub(rf"(WHERE\s+){eq}\s+AND\s+", r"\1", out, flags=re.IGNORECASE)
            # ... AND <eq>  ->  ...
            out = re.sub(rf"\s+AND\s+{eq}(?=\s|$)", "", out, flags=re.IGNORECASE)
            # WHERE <eq> (alone)  ->  (gone)
            out = re.sub(rf"WHERE\s+{eq}\s*", "", out, flags=re.IGNORECASE)
        out = re.sub(rf"\b{ra}\.{time_attr}\b", ts_alias, out, flags=re.IGNORECASE)
        out = re.sub(rf"\b{ra}\.", "", out, flags=re.IGNORECASE)
        # a WHERE whose only conjunct was consumed leaves a dangling tail
        out = re.sub(r"WHERE\s*(GROUP\s+BY|ORDER\s+BY|LIMIT|$)", r"\1", out, flags=re.IGNORECASE)
        return self._translate_lateral_temporal(out)

    # `FROM t /*+ OPTIONS('k'='v', ...) */` — dynamic table options
    # (FlinkHints.HINT_NAME_OPTIONS, table.dynamic-table-options;
    # OptionsHintTest.scala): per-query overrides of the catalog
    # table's WITH options, applied to THIS scan only.
    _OPTIONS_HINT_RE = re.compile(
        r"(?P<tbl>[\w.]+)\s*/\*\+\s*OPTIONS\s*\(\s*(?P<kv>[^)]*?)\s*\)\s*\*/",
        re.IGNORECASE | re.DOTALL,
    )

    def _apply_options_hints(self, sql: str) -> str:
        def repl(m: "re.Match[str]") -> str:
            name = m.group("tbl")
            table = self._tables.get(name)
            if table is None:
                raise ValueError(
                    f"OPTIONS hint on {name!r}: not a catalog connector table"
                )
            overrides = dict(
                re.findall(r"'([^']*)'\s*=\s*'([^']*)'", m.group("kv"))
            )
            hinted = dataclasses.replace(
                table, options={**table.options, **overrides}
            )
            view = f"__opts_{name}_{uuid.uuid4().hex[:8]}"
            hinted.scan(self.spark, self.streaming).createOrReplaceTempView(view)
            # alias back to the table name so `t.col` references resolve;
            # a user alias following the hint (`FROM t /*+...*/ x`) wins
            tail = sql[m.end():]
            has_user_alias = re.match(
                r"\s*(?:AS\s+)?(?!WHERE\b|ON\b|JOIN\b|GROUP\b|ORDER\b|LIMIT\b"
                r"|LEFT\b|RIGHT\b|FULL\b|INNER\b|CROSS\b|UNION\b|HAVING\b)\w+",
                tail,
                re.IGNORECASE,
            )
            return view if has_user_alias else f"{view} {name}"

        return self._OPTIONS_HINT_RE.sub(repl, sql)

    # the right-table alias may sit before OR after the FOR SYSTEM_TIME
    # clause (both appear in the reference's docs/tests)
    _TEMPORAL_JOIN_RE = re.compile(
        r"FROM\s+(?P<lt>[\w.]+)\s+(?:AS\s+)?(?P<la>\w+)\s+"
        r"(?P<outer>LEFT\s+)?JOIN\s+(?P<rt>[\w.]+)"
        r"(?:\s+(?:AS\s+)?(?!FOR\b)(?P<ra1>\w+))?\s+"
        r"FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<ala>\w+)\.(?P<acol>\w+)"
        r"(?:\s+(?:AS\s+)?(?!ON\b)(?P<ra2>\w+))?\s+ON\s+"
        r"(?P<cond>.+?)(?=\s+WHERE\s|\s+GROUP\s|\s+ORDER\s|\s+LIMIT\s|$)",
        re.IGNORECASE | re.DOTALL,
    )

    def _translate_event_time_temporal_join(self, sql: str) -> str:
        """Event-time temporal join (TemporalRowTimeJoinOperator.java:78):
        ``JOIN v FOR SYSTEM_TIME AS OF l.rowtime ON l.k = v.k`` against a
        catalog table with a WATERMARK (= versioned table) joins each
        left row to the version valid at its rowtime. Lowered through
        operators/asof.asof_join and materialized as a view, mirroring
        the MATCH_RECOGNIZE translation strategy. Right sides without a
        rowtime fall through to the proc-time snapshot-join strip in
        rewrite_window_tvfs.
        """
        m = self._TEMPORAL_JOIN_RE.search(sql)
        if not m:
            return sql
        right_tbl = self._tables.get(m.group("rt"))
        if right_tbl is None or right_tbl.watermark is None:
            return sql  # not a versioned table -> snapshot join path
        if m.group("ala") != m.group("la"):
            raise ValueError("FOR SYSTEM_TIME AS OF must reference the left input")
        ra = m.group("ra1") or m.group("ra2") or m.group("rt")
        from flink_release_1_16_0_spark.operators.asof import asof_join

        keys = []
        for clause in re.split(r"\s+AND\s+", m.group("cond"), flags=re.IGNORECASE):
            km = re.fullmatch(
                r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*", clause
            )
            if not km:
                raise ValueError(f"unsupported temporal join condition {clause!r}")
            lcol = km.group(2) if km.group(1) == m.group("la") else km.group(4)
            rcol = km.group(4) if km.group(3) == ra else km.group(2)
            if lcol != rcol:
                raise ValueError(
                    "temporal join keys must share a column name "
                    f"({lcol!r} vs {rcol!r})"
                )
            keys.append(lcol)
        right_ts = right_tbl.watermark[0]
        joined = asof_join(
            self.spark.table(m.group("lt")),
            self.spark.table(m.group("rt")),
            on=keys,
            left_ts=m.group("acol"),
            right_ts=right_ts,
        )
        if not m.group("outer"):
            joined = joined.filter(F.col("__asof_ts").isNotNull())
        view = f"__temporal_join_{uuid.uuid4().hex[:8]}"
        joined.createOrReplaceTempView(view)
        out = sql[: m.start()] + f"FROM {view}" + sql[m.end():]
        # the version's rowtime surfaces as the matched __asof_ts
        out = re.sub(
            rf"\b{ra}\.{right_ts}\b", "__asof_ts", out, flags=re.IGNORECASE
        )
        out = re.sub(
            rf"\b(?:{m.group('la')}|{ra})\.", "", out, flags=re.IGNORECASE
        )
        return self._translate_event_time_temporal_join(out)

    def create_statement_set(self) -> "StatementSet":
        return StatementSet(self)

    # -- DataStream <-> Table bridge (InputConversionOperator /
    # OutputConversionOperator, SURVEY.md section 2.1) ----------------------
    def from_data_frame(self, df: DataFrame) -> Table:
        """fromDataStream: wrap an (insert-only) DataFrame as a Table."""
        return Table(df, self)

    def from_data_stream(self, ds) -> Table:
        """fromDataStream over the DataStream API facade
        (StreamTableEnvironment.fromDataStream,
        flink-table-api-java-bridge/.../StreamTableEnvironment.java):
        an insert-only DataStream becomes a Table; its event-time
        attribute (if assigned) carries over as the rowtime column."""
        from flink_release_1_16_0_spark.datastream.stream import DataStream

        if not isinstance(ds, DataStream):
            raise TypeError("from_data_stream expects a datastream.DataStream")
        return Table(ds.to_data_frame(), self)

    def to_data_stream(self, table: Table, env=None):
        """toDataStream: an insert-only Table becomes a DataStream on
        the given (or a fresh) StreamExecutionEnvironment."""
        from flink_release_1_16_0_spark.datastream.stream import (
            DataStream,
            StreamExecutionEnvironment,
        )

        env = env or StreamExecutionEnvironment(self.spark)
        return DataStream(env, table.to_data_frame())

    def from_changelog_stream(self, df: DataFrame, rowkind_col: str = None) -> Table:
        """fromChangelogStream: a DataFrame carrying per-row kinds
        (+I/-U/+U/-D) becomes a changelog Table; the kind column is
        normalized to the engine's ``__rowkind`` encoding."""
        from flink_release_1_16_0_spark.streaming.changelog import ROWKIND

        col = rowkind_col or ROWKIND
        if col not in df.columns:
            raise ValueError(f"changelog stream needs a {col!r} column")
        if col != ROWKIND:
            df = df.withColumnRenamed(col, ROWKIND)
        return Table(df, self)

    def to_changelog_stream(self, table: Table) -> DataFrame:
        """toChangelogStream: tag insert-only tables +I; changelog
        tables pass through with their existing row kinds."""
        from flink_release_1_16_0_spark.streaming.changelog import (
            ROWKIND,
            to_changelog,
        )

        df = table.to_data_frame()
        return df if ROWKIND in df.columns else to_changelog(df)

    # -- descriptor API (TableDescriptor.java:63; TableEnvironment.
    # createTable / createTemporaryTable / from) ------------------------------
    def create_table(self, path: str, descriptor) -> None:
        """Programmatic CREATE TABLE — lowers to the same DDL path as
        executeSql (one schema/connector code path)."""
        self.execute_sql(descriptor.to_create_sql(path))

    def create_temporary_table(self, path: str, descriptor) -> None:
        self.execute_sql(descriptor.to_create_sql(path, temporary=True))

    def from_descriptor(self, descriptor) -> Table:
        """from(TableDescriptor): an anonymous inline table — like the
        reference, it never becomes catalog-visible: the scan is
        materialized into the Table and the temporary registration is
        dropped immediately."""
        import uuid as _uuid

        name = f"__anon_{_uuid.uuid4().hex[:8]}"
        self.create_temporary_table(name, descriptor)
        try:
            # spark.table analyzes eagerly, so the Table's plan holds
            # the resolved scan and survives the registration drop
            return self.from_path(name)
        finally:
            self.execute_sql(f"DROP TABLE {name}")

    # -- catalog -------------------------------------------------------------
    def from_path(self, name: str) -> Table:
        return Table(self.spark.table(self._resolve_table_name(name)), self)

    def scan(self, *path: str) -> Table:
        """TableEnvironment.scan(String...) — the pre-``from`` spelling;
        path segments join with '.'."""
        return self.from_path(".".join(path))

    def from_values(self, values, row_type: str | None = None) -> Table:
        """TableEnvironment.fromValues(:321,:367): inline literal rows.
        ``values`` is an iterable of tuples/lists/dicts (or scalars for
        a 1-column table); ``row_type`` an optional DDL like
        ``'id BIGINT, name STRING'`` (column names default to the
        reference's f0..fn)."""
        rows = [
            v if isinstance(v, (tuple, list, dict)) else (v,) for v in values
        ]
        if row_type is not None:
            return Table(self.spark.createDataFrame(rows, row_type), self)
        if not rows:
            raise ValueError("from_values with no rows requires row_type")
        df = self.spark.createDataFrame(rows)
        # the reference names positional columns f0..fn
        if rows and not isinstance(rows[0], dict):
            df = df.toDF(*[f"f{i}" for i in range(len(df.columns))])
        return Table(df, self)

    def create_temporary_view(self, name: str, table: "Table | DataFrame") -> None:
        df = table.to_data_frame() if isinstance(table, Table) else table
        df.createOrReplaceTempView(name)

    def register_table(self, name: str, table: "Table | DataFrame") -> None:
        """TableEnvironment.registerTable:646 — the pre-FLIP-64 spelling
        of createTemporaryView."""
        self.create_temporary_view(name, table)

    def use_catalog(self, name: str) -> None:
        self.execute_sql(f"USE CATALOG {name}")

    def use_database(self, name: str) -> None:
        self.execute_sql(f"USE {name}")

    def list_catalogs(self) -> list[str]:
        return sorted(self._catalogs)

    def list_databases(self) -> list[str]:
        return sorted(self._databases.get(self._current_catalog, set()))

    def list_views(self) -> list[str]:
        # mirrors SHOW VIEWS: CREATE VIEW definitions plus temporary
        # views registered via register_table/create_temporary_view
        # (Flink's listViews includes both)
        return sorted(
            t.name
            for t in self.spark.catalog.listTables()
            if t.isTemporary and t.name not in self._tables
        )

    def list_functions(self) -> list[str]:
        return sorted(f.name for f in self.spark.catalog.listFunctions())

    def explain_sql(self, stmt: str) -> str:
        """TableEnvironment.explainSql — the plan description for a
        query (Spark's formatted physical plan stands in for the
        reference's AST/logical/physical trio). Queries go through the
        SAME rewrites sql_query applies (window TVFs, MATCH_RECOGNIZE,
        qualified refs), so this is the plan of the query that would
        actually run."""
        if re.match(r"\s*(SELECT|WITH|VALUES|TABLE)\b", stmt, re.IGNORECASE):
            df = self.sql_query(stmt).to_data_frame()
            return df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        res = self.execute_sql(f"EXPLAIN {stmt}")
        return "\n".join(r[0] if not isinstance(r, str) else r for r in res.collect())

    def list_tables(self) -> list[str]:
        return sorted(
            set(self._tables)
            | {t.name for t in self.spark.catalog.listTables() if t.isTemporary}
        )

    def catalog_table(self, name: str) -> CatalogTable:
        return self._tables[self._resolve_table_name(name)]

    # -- internals -----------------------------------------------------------
    def _create_table_as(self, m: re.Match) -> TableResult:
        """CTAS: schema derived from the query, data written to the
        connector, table registered for subsequent reads."""
        cat, db, name = self._qualify_table_path(m.group("name"))
        options: dict[str, str] = {}
        for pair in _split_top_level(m.group("opts")):
            km = _parse_option_pair(pair)
            if not km:
                raise ValueError(f"cannot parse WITH option {pair!r}")
            options[km[0]] = km[1]
        df = self.spark.sql(rewrite_window_tvfs(self._resolve_qualified_refs(m.group("query"))))
        table = CatalogTable(
            name=name,
            columns=[
                ColumnSpec(name=f.name, spark_type=f.dataType.simpleString())
                for f in df.schema
            ],
            options=options,
            database=db,
            catalog=cat,
        )
        self._tables[name] = table
        table.write(df, overwrite=True)
        if table.connector == "filesystem":
            table.scan(self.spark, self.streaming).createOrReplaceTempView(name)
        return TableResult(rows=["OK"])

    def _analyze(self, stmt: str) -> TableResult:
        """ANALYZE TABLE ... COMPUTE STATISTICS [FOR [ALL] COLUMNS ...]
        (Parser.tdd:76). Stats are stored on the catalog entry and
        returned; they are informational — Spark's AQE derives runtime
        statistics from shuffle materializations on its own."""
        m = _ANALYZE_RE.fullmatch(stmt)
        if not m:
            raise ValueError(f"cannot parse ANALYZE TABLE: {stmt!r}")
        name = m.group("name")
        df = self.spark.table(name)
        wants_cols = "FOR" in stmt.upper()
        cols = (
            [c.strip() for c in m.group("cols").split(",")]
            if m.group("cols")
            else (df.columns if wants_cols else [])
        )
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv__{c}"))
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}"))
        row = df.agg(*aggs).collect()[0].asDict()
        stats: dict[str, object] = {"row_count": row["__rows"]}
        for c in cols:
            stats[c] = {"ndv": row[f"__ndv__{c}"], "null_count": row[f"__nulls__{c}"]}
        if name in self._tables:
            self._tables[name].stats = stats
        return TableResult(rows=sorted(stats.items()))

    def _create_function(self, stmt: str) -> TableResult:
        """CREATE [TEMPORARY] [SYSTEM] FUNCTION name AS 'ref' (Parser.tdd:52,
        SqlCreateFunction). The reference resolves a Java class name; here
        ``ref`` is a dotted Python path ``module.attr`` resolving to either
        a pyspark UDF object (``F.udf``/``pandas_udf`` result — registered
        directly) or a plain callable (wrapped via ``spark.udf.register``;
        optional ``LANGUAGE PYTHON`` and a ``RETURNS <type>`` hint control
        the wrap, defaulting to STRING like Spark's register default)."""
        m = re.fullmatch(
            r"CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.]+)\s+AS\s+'(?P<ref>[^']+)'"
            r"(?:\s+RETURNS\s+(?P<rtype>[\w()<>, ]+?))?(?:\s+LANGUAGE\s+PYTHON)?",
            stmt,
            flags=re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE FUNCTION: {stmt!r}")
        import importlib

        mod_path, _, attr = m.group("ref").rpartition(".")
        if not mod_path:
            raise ValueError("function reference must be a dotted 'module.attr' path")
        target = getattr(importlib.import_module(mod_path), attr)
        name = m.group("name")
        # a pyspark UDF object carries its own return type; a plain
        # callable gets wrapped with the declared (or default) type
        if hasattr(target, "returnType"):
            self.spark.udf.register(name, target)
        else:
            self.spark.udf.register(name, target, m.group("rtype") or "string")
        # FunctionCatalog bookkeeping (listUserDefinedFunctions surface)
        self._created_functions.add(name)
        return TableResult(rows=["OK"])

    def _register_scan(self, table: CatalogTable) -> None:
        """Expose a catalog table's scan as a temp view; write-only
        targets (path does not exist yet) stay catalog-only."""
        if table.connector in ("filesystem", "kafka", "upsert-kafka", "datagen", "jdbc"):
            try:
                table.scan(self.spark, self.streaming).createOrReplaceTempView(table.name)
            except Exception:
                if table.connector not in ("filesystem", "jdbc"):
                    raise

    def _create_table_like(self, m: re.Match) -> TableResult:
        """CREATE TABLE ... LIKE (Parser.tdd:56 / SqlCreateTableLike):
        inherit the base table's schema and options; additional columns
        append, new WITH options override, EXCLUDING OPTIONS / EXCLUDING
        ALL drop the inherited parts."""
        import copy

        base = self._tables.get(m.group("base"))
        if base is None:
            raise ValueError(f"unknown base table {m.group('base')!r} in LIKE")
        like_opts = (m.group("likeopts") or "INCLUDING ALL").upper()
        columns = copy.deepcopy(base.columns)
        computed = list(base.computed)
        watermark = base.watermark
        primary_key = list(base.primary_key)
        options = dict(base.options)
        if "EXCLUDING OPTIONS" in like_opts or "EXCLUDING ALL" in like_opts:
            options = {}
        if "EXCLUDING ALL" in like_opts:
            computed, watermark, primary_key = [], None, []
        if "EXCLUDING WATERMARKS" in like_opts:
            watermark = None
        if m.group("body"):
            cols2, comp2, wm2, pk2 = _parse_schema_body(m.group("body"))
            columns.extend(cols2)
            computed.extend(comp2)
            watermark = wm2 or watermark
            primary_key = pk2 or primary_key
        for pair in _split_top_level(m.group("opts") or ""):
            if not pair.strip():
                continue
            km = _parse_option_pair(pair)
            if not km:
                raise ValueError(f"cannot parse WITH option {pair!r}")
            options[km[0]] = km[1]
        table = CatalogTable(
            name=m.group("name"),
            columns=columns,
            computed=computed,
            watermark=watermark,
            primary_key=primary_key,
            options=options,
            database=self._current_db,
        )
        self._tables[table.name] = table
        self._register_scan(table)
        return TableResult(rows=["OK"])

    def _alter_table(self, stmt: str) -> TableResult:
        """ALTER TABLE RENAME TO / SET options (Parser.tdd:36-45,
        SqlAlterTableRename / SqlAlterTableOptions)."""
        m = re.fullmatch(
            r"ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)", stmt, re.IGNORECASE
        )
        if m:
            old, new = m.group(1), m.group(2)
            if old not in self._tables:
                raise ValueError(f"unknown table {old!r}")
            table = self._tables.pop(old)
            table.name = new
            self._tables[new] = table
            self.spark.catalog.dropTempView(old)
            self._register_scan(table)
            return TableResult(rows=["OK"])
        m = re.fullmatch(
            r"ALTER\s+TABLE\s+([\w.]+)\s+SET\s*\((.*)\)", stmt, re.IGNORECASE | re.DOTALL
        )
        if m:
            name = m.group(1)
            if name not in self._tables:
                raise ValueError(f"unknown table {name!r}")
            table = self._tables[name]
            for pair in _split_top_level(m.group(2)):
                km = _parse_option_pair(pair)
                if not km:
                    raise ValueError(f"cannot parse option {pair!r}")
                table.options[km[0]] = km[1]
            self._register_scan(table)
            return TableResult(rows=["OK"])
        # SqlAddPartitions / SqlDropPartitions (flink-sql-parser-hive
        # .../ddl/SqlAddPartitions.java, SqlDropPartitions.java):
        # ADD [IF NOT EXISTS] PARTITION (p=v[, ...]) [LOCATION 'uri'],
        # DROP [IF EXISTS] PARTITION (p=v[, ...])
        m = re.fullmatch(
            r"ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
            r"(?P<specs>PARTITION\s*\([^)]*\)(?:\s+LOCATION\s+'(?:[^']|'')*')?"
            r"(?:\s+PARTITION\s*\([^)]*\)(?:\s+LOCATION\s+'(?:[^']|'')*')?)*)",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table = self._tables.get(m.group(1))
            if table is None:
                raise ValueError(f"unknown table {m.group(1)!r}")
            if table.connector == "hive":
                return self._hive_partition_ddl(table, stmt)
            self._check_partition_ddl_connector(table, m.group(1))
            if_not_exists = bool(m.group("ine"))
            for pm in re.finditer(
                r"PARTITION\s*\((?P<spec>[^)]*)\)(?:\s+LOCATION\s+'(?P<loc>(?:[^']|'')*)')?",
                m.group("specs"),
                re.IGNORECASE,
            ):
                spec = _parse_partition_spec(pm.group("spec"))
                if pm.group("loc"):
                    loc = pm.group("loc").replace("''", "'")
                    existing = next(
                        (e for e in table.extra_partitions if e[0] == spec), None
                    )
                    if existing is None:
                        table.extra_partitions.append((spec, loc))
                    elif existing[1] != loc and not if_not_exists:
                        # same spec, different location: silently keeping
                        # the stale location would make the scan read the
                        # wrong data — Hive raises AlreadyExistsException
                        # here too (HiveCatalog.createPartition)
                        raise ValueError(
                            f"partition {spec} already exists at "
                            f"{existing[1]!r}; DROP it first or use "
                            "ADD IF NOT EXISTS to keep the existing one"
                        )
                # a location-less partition lives under the table path:
                # directory discovery already serves it — registering is
                # a metadata no-op (matches HiveCatalog's createPartition
                # for in-place locations)
            self._register_scan(table)
            return TableResult(rows=["OK"])
        m = re.fullmatch(
            r"ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:IF\s+EXISTS\s+)?"
            r"(?P<specs>PARTITION\s*\([^)]*\)(?:\s*,\s*PARTITION\s*\([^)]*\))*)",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table = self._tables.get(m.group(1))
            if table is None:
                raise ValueError(f"unknown table {m.group(1)!r}")
            if table.connector == "hive":
                return self._hive_partition_ddl(table, stmt)
            self._check_partition_ddl_connector(table, m.group(1))
            for pm in re.finditer(
                r"PARTITION\s*\((?P<spec>[^)]*)\)", m.group("specs"), re.IGNORECASE
            ):
                spec = _parse_partition_spec(pm.group("spec"))
                # Hive's partial-spec drop covers EVERY matching
                # partition: unregister all external partitions whose
                # values agree with the spec (data kept — external
                # semantics), and delete the in-place prefix directory
                # if the spec addresses one
                matched_ext = [
                    e
                    for e in table.extra_partitions
                    if all(e[0].get(k) == v for k, v in spec.items())
                ]
                if matched_ext:
                    table.extra_partitions = [
                        e for e in table.extra_partitions if e not in matched_ext
                    ]
                try:
                    self._drop_partition_data(table, spec)
                except ValueError:
                    if not matched_ext:
                        raise  # non-prefix spec matching nothing at all
            self._register_scan(table)
            return TableResult(rows=["OK"])
        # SqlAlterTableCompact (Parser.tdd "ALTER TABLE ... COMPACT",
        # lowered by the filesystem connector's compaction in the
        # reference); VACUUM is the manifest log's storage bound
        # (Delta's VACUUM / Iceberg's expire_snapshots role)
        m = re.fullmatch(r"ALTER\s+TABLE\s+([\w.]+)\s+COMPACT", stmt, re.IGNORECASE)
        if m:
            return self.compact_table(m.group(1))
        m = re.fullmatch(
            r"ALTER\s+TABLE\s+([\w.]+)\s+VACUUM"
            r"(?:\s+RETAIN\s+(\d+)\s+(CHECKPOINTS|HOURS))?",
            stmt,
            re.IGNORECASE,
        )
        if m:
            unit = (m.group(3) or "").upper()
            if unit == "HOURS":
                return self.vacuum_table(m.group(1), retain_hours=int(m.group(2)))
            return self.vacuum_table(m.group(1), keep_checkpoints=int(m.group(2) or 2))
        raise ValueError(f"cannot parse ALTER TABLE: {stmt!r}")

    def compact_table(self, name: str) -> TableResult:
        """``ALTER TABLE ... COMPACT`` (SqlAlterTableCompact in the
        reference's Parser.tdd, executed by the filesystem connector's
        compact coordinator). Protocol-aware:

        - rename protocol: REWRITE small data files toward
          ``'compaction.file-size'`` (default 128 MB) — the reference's
          data-file compaction (CompactOperator).
        - manifest protocol: a LOGICAL rewrite — each partition's live
          files merge into ~target-size replacements published through
          one overwrite manifest (``manifest_rewrite_files``, the
          Iceberg rewrite_data_files / Delta OPTIMIZE shape; readers
          switch atomically, the old generation stays until a data
          vacuum) — followed by folding the commit LOG into a fresh
          checkpoint (``manifest_compact``)."""
        table = self._tables.get(name)
        if table is None:
            raise ValueError(f"unknown table {name!r}")
        if table.connector != "filesystem" or "path" not in table.options:
            raise ValueError(
                f"ALTER TABLE ... COMPACT is not supported for table "
                f"{name!r} with connector {table.connector!r}: compaction "
                "needs a filesystem table with a 'path' option"
            )
        if table._commit_protocol() == "manifest":
            from flink_release_1_16_0_spark.sources import manifest_rewrite_files
            from flink_release_1_16_0_spark.sources.commit_protocol import (
                manifest_compact,
            )

            manifest_rewrite_files(
                self.spark,
                table.options["path"],
                fmt=table.options.get("format", "parquet"),
                target_file_bytes=_parse_byte_size(
                    table.options.get("compaction.file-size", "128MB")
                ),
                schema=table.schema_ddl(),
                partition_cols=list(table.partitioned_by),
                format_opts=table._format_extra_opts(),
            )
            manifest_compact(table.options["path"])
        else:
            from flink_release_1_16_0_spark.sources import compact_files

            compact_files(
                self.spark,
                table.options["path"],
                fmt=table.options.get("format", "parquet"),
                target_file_bytes=_parse_byte_size(
                    table.options.get("compaction.file-size", "128MB")
                ),
                partition_cols=list(table.partitioned_by) or None,
            )
        self._register_scan(table)
        return TableResult(rows=["OK"])

    def vacuum_table(
        self,
        name: str,
        keep_checkpoints: int = 2,
        retain_hours: float = 24.0,
    ) -> TableResult:
        """``ALTER TABLE ... VACUUM [RETAIN n CHECKPOINTS | RETAIN n
        HOURS]``: bound the table's storage on BOTH axes — the commit
        log (manifests folded into the oldest retained checkpoint and
        checkpoints past the retention count, ``manifest_vacuum``) and
        the data path (files no live resolution references, older than
        the retention window, ``manifest_vacuum_data`` — replaced
        OVERWRITE/rewrite generations and crashed writers' orphans; the
        Delta VACUUM / Iceberg remove_orphan_files role). RETAIN n
        HOURS sets the data retention; retention must exceed the
        longest-running reader, Delta's documented rule, and a
        retention under the one-hour safety floor is refused unless the
        table sets ``'sink.vacuum.retention-check'='false'`` (Delta's
        retentionDurationCheck role — mtime is the only guard for
        committed-but-unpublished files and live staging dirs). Only
        meaningful under ``'sink.commit-protocol'='manifest'`` — the
        rename protocol has no log and deletes eagerly. Returns both
        removal counts."""
        table = self._tables.get(name)
        if table is None:
            raise ValueError(f"unknown table {name!r}")
        if (
            table.connector != "filesystem"
            or "path" not in table.options
            or table._commit_protocol() != "manifest"
        ):
            raise ValueError(
                f"ALTER TABLE ... VACUUM is only supported for filesystem "
                f"tables with 'sink.commit-protocol'='manifest' (table "
                f"{name!r} has connector {table.connector!r}, protocol "
                f"{table.options.get('sink.commit-protocol', 'rename')!r})"
            )
        from flink_release_1_16_0_spark.sources.commit_protocol import (
            manifest_vacuum,
            manifest_vacuum_data,
        )

        removed = manifest_vacuum(
            table.options["path"], keep_checkpoints=keep_checkpoints
        )
        removed_data = manifest_vacuum_data(
            table.options["path"],
            older_than_s=retain_hours * 3600.0,
            enforce_retention_floor=table.options.get(
                "sink.vacuum.retention-check", "true"
            ).strip().lower()
            not in ("false", "0"),
        )
        return TableResult(
            rows=[f"removed {removed} log files, {removed_data} data files"]
        )

    def _hive_partition_ddl(self, table: CatalogTable, stmt: str) -> TableResult:
        """ADD/DROP PARTITION on a hive-connector table lowers onto
        Spark's NATIVE ``ALTER TABLE ... ADD/DROP PARTITION`` against
        the catalog table — the metastore owns partition metadata there
        (the reference's HiveCatalog.createPartition/dropPartition via
        the Hive dialect, HiveParserDDLSemanticAnalyzer), not the
        engine's filesystem-table bookkeeping. The statement passes
        through with only the table name requalified, so IF [NOT]
        EXISTS, multi-spec lists and LOCATION clauses keep Spark's
        native semantics."""
        tbl = table.options.get("table-name", table.name)
        qualified = f"spark_catalog.{self.spark.catalog.currentDatabase()}.{tbl}"
        rest = re.sub(
            r"^\s*ALTER\s+TABLE\s+[\w.]+", "", stmt, count=1, flags=re.IGNORECASE
        )
        self.spark.sql(f"ALTER TABLE {qualified}{rest}")
        self._register_scan(table)
        return TableResult(rows=["OK"])

    @staticmethod
    def _check_partition_ddl_connector(table: CatalogTable, name: str) -> None:
        """ADD/DROP PARTITION is a filesystem/hive-layout operation
        (hive-connector tables took the native-catalog branch before
        this check); on a pathless connector (kafka, jdbc, ...) fail
        with a clear error instead of a KeyError from
        ``options['path']``."""
        if table.connector != "filesystem" or "path" not in table.options:
            raise ValueError(
                f"ALTER TABLE ... ADD/DROP PARTITION is not supported for "
                f"table {name!r} with connector "
                f"{table.connector!r}: partition DDL needs a filesystem "
                "table with a 'path' option"
            )

    def _drop_partition_data(self, table: CatalogTable, spec: dict) -> None:
        """Managed-table DROP PARTITION (Hive deletes the partition's
        data; a later INSERT recreates it naturally): physically remove
        the in-place partition directory, or — on manifest-committed
        tables, where data files must never be deleted out from under
        the log — publish an overwrite manifest with zero files (a
        logical truncate). The spec must cover a PREFIX of the partition
        columns (Hive's partial-spec drop). Directory names use the SAME
        escaping Spark applies when writing hive-style partitions
        (ExternalCatalogUtils.escapePathName), so values with special
        characters match the real on-disk (and manifest) layout and a
        crafted value can never traverse outside the table path."""
        import shutil as _sh

        unknown = set(spec) - set(table.partitioned_by)
        if unknown:
            raise ValueError(
                f"PARTITION spec names non-partition columns: {sorted(unknown)}"
            )
        rel_parts: list[str] = []
        for pcol in table.partitioned_by:
            if pcol not in spec:
                break
            rel_parts.append(f"{pcol}={_escape_partition_value(spec[pcol])}")
        if len(rel_parts) != len(spec):
            raise ValueError(
                "PARTITION spec must cover a prefix of the partition "
                f"columns {table.partitioned_by} (got {sorted(spec)})"
            )
        rel = "/".join(rel_parts)
        base = table.options["path"]
        target = os.path.realpath(os.path.join(base, rel))
        if not target.startswith(os.path.realpath(base) + os.sep):
            raise ValueError(f"partition path escapes the table directory: {rel!r}")
        if table._commit_protocol() == "manifest":
            from flink_release_1_16_0_spark.sources.commit_protocol import (
                manifest_truncate_partitions,
            )

            manifest_truncate_partitions(base, rel)
        else:
            _sh.rmtree(target, ignore_errors=True)

    def _create_table(self, stmt: str) -> TableResult:
        like = _CREATE_TABLE_LIKE_RE.fullmatch(stmt)
        if like:
            return self._create_table_like(like)
        m = _CREATE_TABLE_RE.fullmatch(stmt)
        if not m:
            raise ValueError(f"cannot parse CREATE TABLE: {stmt!r}")
        cat, db, name = self._qualify_table_path(m.group("name"))
        if cat not in self._catalogs:
            raise ValueError(f"unknown catalog {cat!r}")
        if db not in self._databases[cat]:
            raise ValueError(f"unknown database {db!r} in catalog {cat!r}")
        prior = self._tables.get(name)
        if prior is not None and (prior.catalog, prior.database) != (cat, db):
            # table names are session-global (Spark temp views); a
            # same-named table in another catalog.database would
            # silently shadow it — documented facade restriction
            raise ValueError(
                f"table name {name!r} already exists in "
                f"{prior.catalog}.{prior.database} (names are "
                "session-global across catalogs)"
            )
        columns, computed, watermark, primary_key = _parse_schema_body(m.group("body"))
        if watermark is not None:
            # A WATERMARK declaration makes the column a rowtime
            # attribute; Spark only accepts watermarks on TIMESTAMP
            # (with local time zone), so the rowtime column maps to LTZ
            # instead of NTZ — identical instants under the engine's
            # fixed UTC session timezone (session.py).
            for c in columns:
                if c.name == watermark[0] and c.spark_type == "timestamp_ntz":
                    c.spark_type = "timestamp"
        options: dict[str, str] = {}
        for pair in _split_top_level(m.group("opts")):
            km = _parse_option_pair(pair)
            if not km:
                raise ValueError(f"cannot parse WITH option {pair!r}")
            options[km[0]] = km[1]
        table = CatalogTable(
            name=name,
            columns=columns,
            computed=computed,
            watermark=watermark,
            primary_key=primary_key,
            partitioned_by=(
                [p.strip() for p in m.group("parts").split(",")] if m.group("parts") else []
            ),
            options=options,
            database=db,
            catalog=cat,
        )
        self._register_table(table)
        return TableResult(rows=["OK"])

    def _register_table(self, table: CatalogTable) -> None:
        """Install a CatalogTable: catalog entry + readable temp view —
        shared by CREATE TABLE DDL and EXECUTE PLAN table restore."""
        name = table.name
        options = table.options
        self._tables[name] = table
        if table.connector == "hive":
            # materialize the backing catalog table eagerly (the
            # reference's HiveCatalog.createTable): scans work before
            # the first INSERT
            tbl = options.get("table-name", name)
            if not self.spark.catalog.tableExists(tbl):
                parts = (
                    f" PARTITIONED BY ({', '.join(table.partitioned_by)})"
                    if table.partitioned_by
                    else ""
                )
                using = options.get("using-format", "parquet").upper()
                # Hive CLUSTERED BY ... INTO n BUCKETS (hive_dialect's
                # bucketed lowering) becomes Spark-native bucketing, so
                # joins between tables bucketed on the key scan
                # exchange-free
                buckets = ""
                if options.get("bucket-columns"):
                    try:
                        n_buckets = int(options.get("bucket-count", ""))
                    except (TypeError, ValueError):
                        n_buckets = 0
                    if n_buckets <= 0:
                        raise ValueError(
                            f"table {name!r}: 'bucket-columns' needs a "
                            "positive integer 'bucket-count' option "
                            f"(got {options.get('bucket-count')!r})"
                        )
                    buckets = f" CLUSTERED BY ({options['bucket-columns']})"
                    if options.get("bucket-sort-columns"):
                        buckets += f" SORTED BY ({options['bucket-sort-columns']})"
                    buckets += f" INTO {n_buckets} BUCKETS"
                loc = (
                    " LOCATION '{}'".format(options["location"].replace("'", "''"))
                    if options.get("location")
                    else ""
                )
                self.spark.sql(
                    f"CREATE TABLE {tbl} ({table.schema_ddl()}) USING {using}"
                    f"{parts}{buckets}{loc}"
                )
        # register the scan as a temp view so SQL can reference it; sinks
        # (print/blackhole, write-only filesystem dirs) stay catalog-only
        if table.connector in ("filesystem", "kafka", "upsert-kafka", "datagen", "jdbc", "hive"):
            try:
                # hive scans are bounded by definition (HiveSource batch
                # mode) — even a streaming environment reads them as a
                # batch snapshot
                streaming_scan = self.streaming and table.connector != "hive"
                table.scan(self.spark, streaming_scan).createOrReplaceTempView(name)
            except Exception:
                # filesystem/jdbc tables may be write-only targets
                # (path / db table absent or still empty) — but a path
                # that already HOLDS data means the schema /
                # computed-column expression itself is broken, and
                # swallowing that would surface later as a baffling
                # "table not found"
                p = options.get("path", "")
                empty_dir = os.path.isdir(p) and not any(
                    not f.startswith((".", "_")) for f in os.listdir(p)
                )
                if table.connector == "filesystem" and (
                    not os.path.exists(p) or empty_dir
                ):
                    pass
                elif table.connector == "jdbc":
                    pass
                else:
                    raise

    _COMPILE_PLAN_RE = re.compile(
        r"COMPILE\s+(?P<exec>AND\s+EXECUTE\s+)?PLAN\s+'(?P<path>[^']+)'\s+"
        r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?FOR\s+(?P<body>.+)",
        re.IGNORECASE | re.DOTALL,
    )

    def _compile_plan(self, stmt: str) -> TableResult:
        """COMPILE [AND EXECUTE] PLAN '<file>' [IF NOT EXISTS] FOR
        <INSERT ... | STATEMENT SET BEGIN ...; END> (Parser.tdd:49,80,
        83; SqlCompilePlan / SqlCompileAndExecutePlan) — serialize the
        op-DAG + statement + catalog metadata to the JSON artifact;
        the AND EXECUTE form runs it immediately."""
        from flink_release_1_16_0_spark.plans.compiled_plan import (
            compile_plan,
            execute_plan,
        )

        m = self._COMPILE_PLAN_RE.fullmatch(stmt)
        if not m:
            raise ValueError(f"cannot parse COMPILE PLAN: {stmt!r}")
        body = m.group("body").strip().rstrip(";")
        statements: list[dict] = []
        sm = re.match(
            r"STATEMENT\s+SET\s+BEGIN\s+(?P<inner>.*?)\s*END$",
            body,
            re.IGNORECASE | re.DOTALL,
        )
        parts = (
            [p for p in _split_outside_literals(sm.group("inner"), ";") if p.strip()]
            if sm
            else [body]
        )
        for part in parts:
            im = _INSERT_RE.fullmatch(part.strip())
            if not im:
                raise ValueError(
                    f"COMPILE PLAN accepts INSERT statements, got {part!r}"
                )
            sink = self._resolve_table_name(im.group("name"))
            if sink not in self._tables:
                raise ValueError(
                    f"unknown sink table {sink!r} (CREATE TABLE it first)"
                )
            statements.append(
                {
                    "sink": sink,
                    "query": self._resolve_qualified_refs(im.group("query").strip()),
                    "overwrite": im.group("mode").upper() == "OVERWRITE",
                    "partition": im.group("parts"),
                    "columns": im.group("cols"),
                }
            )
        compile_plan(
            self, statements, m.group("path"), if_not_exists=bool(m.group("ine"))
        )
        if m.group("exec"):
            return execute_plan(self, m.group("path"))
        return TableResult(rows=["OK"])

    def _insert(
        self,
        name: str,
        query: str,
        overwrite: bool,
        partition_spec: str | None = None,
        column_list: str | None = None,
    ) -> TableResult:
        name = self._resolve_table_name(name)
        query = self._resolve_qualified_refs(query)
        if name not in self._tables:
            raise ValueError(f"unknown sink table {name!r} (CREATE TABLE it first)")
        table = self._tables[name]
        lateness_df = self._maybe_lateness_window_agg(query)
        df = (
            lateness_df
            if lateness_df is not None
            else self.spark.sql(rewrite_window_tvfs(query))
        )
        declared = [c.name for c in table.columns]
        # static partition INSERT (Parser.tdd SqlInsert partition
        # clause): PARTITION (col='v', ...) pins partition columns
        static: dict[str, str] = {}
        if partition_spec:
            for pair in _split_top_level(partition_spec):
                km = re.fullmatch(r"\s*(\w+)\s*=\s*(.+?)\s*", pair)
                if not km:
                    raise ValueError(f"cannot parse PARTITION item {pair!r}")
                static[km.group(1)] = km.group(2)
            unknown = set(static) - set(declared)
            if unknown:
                raise ValueError(f"PARTITION columns not in schema: {sorted(unknown)}")
        if column_list:
            # partial insert (RichSqlInsert target column list): listed
            # columns take the query's values positionally, unlisted
            # non-partition columns fill with NULL of the declared type
            listed = [c.strip() for c in column_list.split(",")]
            unknown = set(listed) - set(declared)
            if unknown:
                raise ValueError(
                    f"INSERT column list names not in schema: {sorted(unknown)}"
                )
            if len(set(listed)) != len(listed):
                raise ValueError("duplicate names in INSERT column list")
            if set(listed) & set(static):
                raise ValueError(
                    "INSERT column list overlaps static PARTITION columns: "
                    f"{sorted(set(listed) & set(static))}"
                )
            if len(df.columns) != len(listed):
                raise ValueError(
                    f"INSERT column count mismatch: query has "
                    f"{len(df.columns)}, column list has {len(listed)}"
                )
            rest = [c for c in declared if c not in static]
            renamed = df.toDF(*listed)
            df = renamed.select(
                *[
                    F.col(c.name).alias(c.name)
                    if c.name in listed
                    else F.lit(None).cast(c.spark_type).alias(c.name)
                    for c in table.columns
                    if c.name in rest
                ]
            )
        if static:
            # the query (or column-list expansion) provides the
            # remaining columns in declared order — splice the literals
            # into their declared slots
            rest = [c for c in declared if c not in static]
            if len(df.columns) != len(rest):
                raise ValueError(
                    f"INSERT column count mismatch: query has {len(df.columns)}, "
                    f"{len(rest)} non-partition columns expected"
                )
            renamed = df.toDF(*rest)
            df = renamed.select(
                *[
                    F.expr(static[c.name]).alias(c.name)
                    if c.name in static
                    else F.col(c.name)
                    for c in table.columns
                ]
            )
        if len(df.columns) != len(declared):
            raise ValueError(
                f"INSERT column count mismatch: query has {len(df.columns)}, "
                f"table {name} declares {len(declared)}"
            )
        # positional alignment + declared-type casts, per Flink INSERT.
        # Rename positionally FIRST (toDF): query-derived column names
        # can contain dots (e.g. a literal aliased '20.0'), which
        # F.col() would mis-parse as struct access.
        aligned = df.toDF(*declared).select(
            *[F.col(c.name).cast(c.spark_type).alias(c.name) for c in table.columns]
        )
        # early-fire emit (WindowEmitStrategy.scala; table.exec.emit.*):
        # run the streaming agg in UPDATE output mode so window partials
        # emit per micro-batch instead of only at watermark finalization
        early = (
            self._config.get("table.exec.emit.early-fire.enabled", "false")
            == "true"
        )
        # the lateness operator is applyInPandasWithState in update
        # mode — its sink drain must be update too
        update = early or lateness_df is not None
        table.write(
            aligned, overwrite, output_mode="update" if update else "append"
        )
        # refresh the readable view if the sink is also scannable (the
        # temp view pins a resolved relation whose file index would
        # otherwise go stale after the write)
        if table.connector in ("filesystem", "jdbc", "hive"):
            streaming_scan = self.streaming and table.connector != "hive"
            if streaming_scan and table._commit_protocol() == "manifest":
                # manifest tables have no streaming scan (the log, not
                # the directory, is the source of truth): write-only in
                # a streaming env; batch envs read the manifest
                pass
            else:
                table.scan(self.spark, streaming_scan).createOrReplaceTempView(name)
        return TableResult(rows=["OK"])


class StatementSet:
    """Multi-sink execution (StatementSetImpl in the reference).

    The reference deduplicates common sub-plans across sinks before
    translation (StreamCommonSubGraphBasedOptimizer.scala:46). Spark
    actions don't share stages across jobs, so the equivalent here is
    explicit: any source table referenced by two or more statements is
    cached for the duration of the set (``spark.catalog.cacheTable``) —
    each shared scan is computed once, every sink reads the cached
    relation, and the cache is dropped afterwards.
    """

    def __init__(self, tenv: TableEnvironment):
        self._tenv = tenv
        self._inserts: list[tuple[str, str, bool]] = []  # (sink, query, overwrite)

    def add_insert_sql(self, stmt: str) -> "StatementSet":
        m = _INSERT_RE.fullmatch(stmt.strip().rstrip(";").strip())
        if not m:
            raise ValueError(f"statement sets accept INSERT statements, got {stmt!r}")
        self._inserts.append(
            (
                m.group("name"),
                m.group("query"),
                m.group("mode").upper() == "OVERWRITE",
                m.group("parts"),
                m.group("cols"),
            )
        )
        return self

    def _shared_sources(self) -> list[str]:
        views = {
            t.name
            for t in self._tenv.spark.catalog.listTables()
            if t.isTemporary
        }
        counts: dict[str, int] = {}
        for _, query, _, _, _ in self._inserts:
            for name in views:
                if re.search(rf"\b{re.escape(name)}\b", query, re.IGNORECASE):
                    counts[name] = counts.get(name, 0) + 1
        return [n for n, c in counts.items() if c >= 2]

    def execute(self) -> TableResult:
        shared = self._shared_sources()
        for name in shared:
            self._tenv.spark.catalog.cacheTable(name)
        try:
            for sink, query, overwrite, parts, cols in self._inserts:
                self._tenv._insert(sink, query, overwrite, parts, cols)
        finally:
            for name in shared:
                self._tenv.spark.catalog.uncacheTable(name)
        return TableResult(rows=["OK"] * len(self._inserts))


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE SQL clause -> operators/cep.py
# ---------------------------------------------------------------------------

_MR_AGGS = ("FIRST", "LAST", "SUM", "COUNT", "MIN", "MAX")


def _extract_match_recognize(sql: str):
    """Locate `<table> MATCH_RECOGNIZE ( <balanced body> ) [AS alias]`.

    Returns (start, end, table, body, alias) or None.
    """
    m = re.search(r"([\w.]+)\s+MATCH_RECOGNIZE\s*\(", sql, re.IGNORECASE)
    if not m:
        return None
    depth, i = 1, m.end()
    while i < len(sql) and depth:
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError("unbalanced MATCH_RECOGNIZE parentheses")
    body = sql[m.end() : i - 1]
    tail = re.match(r"\s+AS\s+(\w+)", sql[i:], re.IGNORECASE)
    end = i + (tail.end() if tail else 0)
    return m.start(1), end, m.group(1), body, (tail.group(1) if tail else None)


def _parse_match_recognize_body(body: str) -> dict:
    """Split the clause body into its sections."""
    sections = {}
    keys = [
        ("partition_by", r"PARTITION\s+BY"),
        ("order_by", r"ORDER\s+BY"),
        ("measures", r"MEASURES"),
        ("rows_per_match", r"(?:ONE|ALL)\s+ROWS?\s+PER\s+MATCH"),
        ("after_match", r"AFTER\s+MATCH\s+SKIP\s+(?:PAST\s+LAST\s+ROW|TO\s+[\w\s]+)"),
        ("pattern", r"PATTERN"),
        ("define", r"DEFINE"),
    ]
    marks = []
    for name, pat in keys:
        for mm in re.finditer(pat, body, re.IGNORECASE):
            marks.append((mm.start(), mm.end(), name))
    marks.sort()
    for idx, (s, e, name) in enumerate(marks):
        nxt = marks[idx + 1][0] if idx + 1 < len(marks) else len(body)
        sections[name] = body[e:nxt].strip().rstrip(",").strip()
    if "pattern" not in sections or "define" not in sections:
        raise ValueError("MATCH_RECOGNIZE needs PATTERN and DEFINE clauses")
    return sections


def _parse_skip_strategy(body: str):
    """AFTER MATCH SKIP clause -> the operator tier's skip spec
    (nfa/aftermatch/AfterMatchSkipStrategy.java and its
    SkipPastLastStrategy / SkipToNextStrategy / SkipToFirstStrategy /
    SkipToLastStrategy subclasses): ``"past_last_row"`` (default),
    ``"to_next_row"``, or ``("to_first"|"to_last", var)``; a bare
    ``SKIP TO <var>`` is SKIP TO LAST <var> per the SQL standard."""
    if re.search(r"SKIP\s+TO\s+NEXT\s+ROW", body, re.IGNORECASE):
        return "to_next_row"
    m = re.search(
        r"SKIP\s+TO\s+(?:(FIRST|LAST)\s+)?(\w+)", body, re.IGNORECASE
    )
    if m:
        mode = (m.group(1) or "LAST").lower()
        return (f"to_{mode}", m.group(2))
    return "past_last_row"


_MR_COUNTER = iter(range(1, 1 << 30))


def _split_predicate_list(s: str) -> list[str]:
    """Split a MEASURES/DEFINE clause body on top-level commas.

    Unlike :func:`_split_top_level`, ``<`` and ``>`` are COMPARISON
    operators here, not generic-type brackets — ``price < LAST(x, 1),
    UP AS ...`` must split at the comma after the closing paren, which
    a ``<``-counting splitter never sees as top-level."""
    parts, depth, buf, in_str = [], 0, [], False
    for ch in s:
        if in_str:
            buf.append(ch)
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return [p for p in parts if p]


class _UnboundVariable(Exception):
    """DEFINE referenced a pattern variable with no bound rows yet."""


def _split_outside_literals(src: str, sep: str) -> list[str]:
    """Split on ``sep`` only outside single-quoted SQL literals."""
    parts: list[str] = []
    buf: list[str] = []
    for is_lit, seg in _split_sql_literals(src):
        if is_lit:
            buf.append(seg)
            continue
        pieces = seg.split(sep)
        for piece in pieces[:-1]:
            buf.append(piece)
            parts.append("".join(buf))
            buf = []
        buf.append(pieces[-1])
    parts.append("".join(buf))
    return parts


def _split_sql_literals(src: str) -> list:
    """Split SQL text into ``(is_literal, text)`` segments, where literal
    segments are single-quoted SQL strings (with ``''`` escapes) kept
    verbatim including the quotes. Non-literal segments are everything
    between them. An unterminated literal extends to end-of-string."""
    parts = []
    i, n, start = 0, len(src), 0
    while i < n:
        if src[i] != "'":
            i += 1
            continue
        if i > start:
            parts.append((False, src[start:i]))
        j = i + 1
        while j < n:
            if src[j] == "'":
                if j + 1 < n and src[j + 1] == "'":
                    j += 2
                    continue
                break
            j += 1
        parts.append((True, src[i : min(j + 1, n)]))
        i = j + 1
        start = i
    if start < n:
        parts.append((False, src[start:]))
    return parts


class _SqlNullType:
    """SQL NULL for compiled DEFINE predicates: comparisons are UNKNOWN
    (falsy) instead of Python TypeErrors — `price < LAST(p,1) OR
    LAST(p,1) IS NULL` must reach the OR arm, which eager `None < x`
    would kill with an exception. Arithmetic absorbs (NULL + 1 is
    NULL), mirroring SQL's null propagation."""

    #: duck-type marker — cloudpickle copies closures BY VALUE, so the
    #: worker-side sentinel is a different INSTANCE than the one a
    #: separately-captured `_sql_null` closed over; identity checks
    #: break there, attribute checks don't
    _is_sql_null = True

    def _false(self, other):
        return False

    __lt__ = __gt__ = __le__ = __ge__ = __eq__ = __ne__ = _false

    def __bool__(self):
        return False

    def _absorb(self, *a):
        return self

    __add__ = __radd__ = __sub__ = __rsub__ = _absorb
    __mul__ = __rmul__ = __truediv__ = __rtruediv__ = _absorb
    __neg__ = _absorb
    __hash__ = object.__hash__

    def __repr__(self):
        return "SQL_NULL"


_SQL_NULL = _SqlNullType()


def _sql_null(x) -> bool:
    """SQL NULL test over the NFA tier's row dicts: None, the NaN a
    nullable numeric column becomes after pandas conversion, or the
    predicate-layer NULL sentinel."""
    return (
        x is None
        or getattr(x, "_is_sql_null", False)
        or (isinstance(x, float) and x != x)
    )


def _sql_val(x):
    """Normalize a row value for predicate arithmetic: NULL-ish values
    become the absorbing sentinel so comparisons are UNKNOWN, not
    TypeErrors."""
    return _SQL_NULL if _sql_null(x) else x


def _compile_define_predicate(
    pred: str, cur_var: str, variables: list, rename: dict, columns=()
):
    """SQL DEFINE predicate -> ``fn(row, ctx)`` for the NFA tier
    (operators/cep.py match_nfa; cross-variable semantics of
    nfa/NFA.java evaluating predicates against the partial match,
    MatchCodeGenerator's RUNNING evaluation for navigation/aggregates).

    Semantics (the reference's, pinned by the MatchRecognizeITCase
    conformance suite in tests/test_match_recognize_itcase.py):

    - ``X.col`` on the variable being defined reads the CANDIDATE row;
      a bare column name does too (SQL standard).
    - ``Y.col`` on another variable is LAST(Y.col).
    - ``FIRST/LAST(V.col [, off])`` navigate V's rows-so-far; for the
      variable being defined the candidate row counts as the running
      last row. Unqualified ``FIRST/LAST(col [, off])`` navigate the
      UNIVERSAL variable (every row of the partial match, in order).
      Out-of-range offsets and unbound variables yield SQL NULL.
    - ``SUM/COUNT/AVG/MIN/MAX(V.expr)`` are RUNNING aggregates over
      V's rows-so-far including the candidate (GroupAggFunction-style
      null skipping; COUNT(*) counts rows).
    - ``IS [NOT] NULL`` and ``LIKE`` are supported; NULL comparisons
      are false (UNKNOWN), MATCH_RECOGNIZE's predicate semantics.

    ``rename`` maps source column names to the row-dict names the NFA
    tier uses internally (ts/id are renamed to __ts/__id); ``columns``
    lists the table's real columns so bare identifiers can be told
    apart from SQL keywords.
    """
    vset = set(variables)
    colset = set(columns)
    _aggs_re = r"(?:SUM|COUNT|AVG|MIN|MAX)"

    def col(c: str) -> str:
        return rename.get(c, c)

    # Split string literals out FIRST and replace each with a unique
    # placeholder name resolved through the eval environment — so no
    # later rewrite can ever touch literal content (a literal like
    # 'x IS NULL' or 'a LIKE b' must survive verbatim).
    lit_env: dict = {}
    seg_parts = []
    for is_lit, text in _split_sql_literals(pred):
        if is_lit:
            name = f"__LIT{len(lit_env)}__"
            while name in colset:  # pathological column-name collision
                name += "_"
            lit_env[name] = text[1:-1].replace("''", "'")
            seg_parts.append(f" {name} ")
        else:
            seg_parts.append(text)
    pred = "".join(seg_parts)

    # IS [NOT] NULL and LIKE now run on literal-free text (their
    # operands are still in SQL form here); the operand text is
    # rewritten by the later passes inside the generated call
    pred = re.sub(
        rf"((?:FIRST|LAST|{_aggs_re})\s*\([^()]*\)|\w+(?:\s*\.\s*\w+)?)"
        r"\s+IS\s+NOT\s+NULL",
        r"(not _isnull(\1))",
        pred,
        flags=re.IGNORECASE,
    )
    pred = re.sub(
        rf"((?:FIRST|LAST|{_aggs_re})\s*\([^()]*\)|\w+(?:\s*\.\s*\w+)?)"
        r"\s+IS\s+NULL",
        r"_isnull(\1)",
        pred,
        flags=re.IGNORECASE,
    )
    pred = re.sub(
        r"(\w+(?:\s*\.\s*\w+)?)\s+LIKE\s+(__LIT\d+___*|\w+(?:\s*\.\s*\w+)?)",
        r"_like(\1, \2)",
        pred,
        flags=re.IGNORECASE,
    )

    def _balanced_calls(names_re: str, src_text: str, fn) -> str:
        """Rewrite ``NAME( ... )`` calls with BALANCED paren scanning,
        so nested arithmetic like ``SUM(a * (1 - b))`` is captured
        whole (a plain ``[^()]*`` regex misses it)."""
        rx = re.compile(rf"\b({names_re})\s*\(", re.IGNORECASE)
        out, i = [], 0
        while True:
            m = rx.search(src_text, i)
            if not m:
                out.append(src_text[i:])
                return "".join(out)
            out.append(src_text[i : m.start()])
            depth, j = 1, m.end()
            while j < len(src_text) and depth:
                if src_text[j] == "(":
                    depth += 1
                elif src_text[j] == ")":
                    depth -= 1
                j += 1
            if depth:
                raise ValueError(
                    f"unbalanced parentheses in {src_text[m.start():]!r}"
                )
            out.append(fn(m.group(1), src_text[m.end() : j - 1]))
            i = j

    def _inner_lambda(inner: str) -> str:
        """Aggregate payload -> a lambda over one row dict; every
        qualified prefix was already validated to be one variable."""
        body = re.sub(
            r"\b(\w+)\s*\.\s*(\w+)",
            lambda m: f"_v(__r[{col(m.group(2))!r}])"
            if m.group(1) in vset
            else m.group(0),
            inner,
        )
        body = re.sub(
            r"(?<![.\w'\"])([A-Za-z_]\w*)(?!\s*[([.\w'\"])",
            lambda m: f"_v(__r[{col(m.group(1))!r}])"
            if m.group(1) in colset
            else m.group(0),
            body,
        )
        return f"lambda __r: ({body})"

    def rewrite(seg: str) -> str:
        # SQL -> Python rewrites; string literals were already replaced
        # by placeholder names, so nothing here can corrupt a literal.
        def agg_sub(kind: str, inner: str) -> str:
            kind = kind.lower()
            inner = inner.strip()
            if inner == "*":
                return '_agg("count", "*", None)'
            ref_vars = {
                v for v in re.findall(r"\b(\w+)\s*\.", inner) if v in vset
            }
            if len(ref_vars) > 1:
                raise ValueError(
                    f"DEFINE aggregate {kind.upper()}({inner}) "
                    "mixes variables"
                )
            var = ref_vars.pop() if ref_vars else "*"
            return f'_agg("{kind}", "{var}", {_inner_lambda(inner)})'

        seg = _balanced_calls("SUM|COUNT|AVG|MIN|MAX", seg, agg_sub)

        def nav_sub(m: re.Match) -> str:
            kind = m.group(1).lower()
            parts = [p.strip() for p in m.group(2).split(",")]
            target = parts[0]
            off = parts[1] if len(parts) > 1 else "0"
            if not off.isdigit():
                raise ValueError(f"bad logical offset in {m.group(0)!r}")
            qm = re.fullmatch(r"(\w+)\s*\.\s*(\w+)", target)
            if qm and qm.group(1) in vset:
                v, c = qm.group(1), col(qm.group(2))
            elif re.fullmatch(r"\w+", target):
                v, c = "*", col(target)  # universal navigation
            else:
                raise ValueError(
                    f"unsupported navigation target {target!r} "
                    "(a column reference, optionally variable-qualified)"
                )
            return f'_nav("{kind}", "{v}", "{c}", {int(off)})'

        seg = re.sub(
            r"\b(FIRST|LAST)\s*\(([^()]*)\)",
            nav_sub,
            seg,
            flags=re.IGNORECASE,
        )

        def ref(m: re.Match) -> str:
            v, c = m.group(1), col(m.group(2))
            if v not in vset:  # e.g. a numeric literal like 3.5
                return m.group(0)
            if v == cur_var:
                return f"_v(__row[{c!r}])"
            return f'_nav("last", "{v}", "{c}", 0)'

        seg = re.sub(r"\b(\w+)\s*\.\s*(\w+)", ref, seg)
        # bare identifiers naming real columns read the candidate row;
        # the lookahead excludes '[' so a column literally named "row"
        # cannot be rewritten inside a previously-emitted __row['col']
        # accessor (the dict variable is also reserved-named __row)
        seg = re.sub(
            r"(?<![.\w'\"])([A-Za-z_]\w*)(?!\s*[([.\w'\"])",
            lambda m: f"_v(__row[{col(m.group(1))!r}])"
            if m.group(1) in colset
            else m.group(0),
            seg,
        )
        seg = seg.replace("<>", "!=")
        seg = re.sub(r"(?<![<>=!])=(?!=)", "==", seg)
        seg = re.sub(r"\bAND\b", "and", seg, flags=re.IGNORECASE)
        seg = re.sub(r"\bOR\b", "or", seg, flags=re.IGNORECASE)
        seg = re.sub(r"\bNOT\b", "not", seg, flags=re.IGNORECASE)
        # any surviving SQL call token means an expression shape the
        # rewrites above did not cover — fail loudly at compile time
        # instead of surfacing as a NameError at predicate eval time
        leftover = re.search(
            r"\b(?:FIRST|LAST|SUM|COUNT|AVG|MIN|MAX)\s*\(",
            seg,
            re.IGNORECASE,
        )
        if leftover:
            raise ValueError(
                f"unsupported DEFINE expression near "
                f"{seg[leftover.start():leftover.start() + 40]!r}"
            )
        return seg

    src = rewrite(pred)
    # outer parens: a multi-line SQL predicate must stay one expression
    code = compile(f"({src})", f"<define {cur_var}>", "eval")

    def predicate(row, ctx):
        def _seq(v):
            if v == "*":
                rows_all = sorted(
                    (r for rs in ctx.values() for r in rs),
                    key=lambda r: (r.get("__ts"), r.get("__id")),
                )
                return [*rows_all, row]
            bound = ctx.get(v) or []
            return [*bound, row] if v == cur_var else list(bound)

        def _nav(kind, v, c, off):
            seq = _seq(v)
            i = off if kind == "first" else len(seq) - 1 - off
            if 0 <= i < len(seq):
                return _sql_val(seq[i].get(c))
            return _SQL_NULL

        def _agg(kind, v, f):
            seq = _seq(v)
            if kind == "count" and f is None:
                return len(seq)  # COUNT(*)
            vals = [f(r) for r in seq]
            vals = [x for x in vals if not _sql_null(x)]
            if kind == "count":
                return len(vals)
            if not vals:
                return _SQL_NULL
            if kind == "sum":
                return sum(vals)
            if kind == "avg":
                return sum(vals) / len(vals)
            return min(vals) if kind == "min" else max(vals)

        def _like(x, pat):
            if _sql_null(x):
                return False
            rx = re.escape(str(pat)).replace("%", ".*").replace("_", ".")
            return re.fullmatch(rx, str(x), re.DOTALL) is not None

        env = {
            "__row": row,
            **lit_env,
            "_nav": _nav,
            "_agg": _agg,
            "_like": _like,
            "_isnull": _sql_null,
            "_v": _sql_val,
            "_first": lambda v, c: _nav("first", v, c, 0),
            "_last": lambda v, c: _nav("last", v, c, 0),
        }
        try:
            # env rides in GLOBALS: a lambda emitted for a DEFINE
            # aggregate resolves names through its __globals__, which
            # eval takes from the globals mapping, not the locals one
            result = eval(code, {"__builtins__": {}, **env})  # noqa: S307
            return bool(result) if result is not None else False
        except (_UnboundVariable, TypeError):
            return False

    return predicate


def _translate_match_recognize(tenv: "TableEnvironment", sql: str) -> str:
    """Rewrite `FROM t MATCH_RECOGNIZE (...)` into a scan of the CEP
    operator's output (StreamExecMatch.java:59 -> operators/cep.py
    regex tier with MEASURES).

    Supported: PARTITION BY, ORDER BY, MEASURES with
    FIRST/LAST/SUM/COUNT/MIN/MAX or bare `V.col` (= LAST), ONE ROW PER
    MATCH (final measures) and ALL ROWS PER MATCH (one row per matched
    event, RUNNING measures + match_no + classifier columns), the full
    AFTER MATCH SKIP matrix (PAST LAST ROW, TO NEXT ROW, TO
    [FIRST|LAST] <var> — SkipToFirstStrategy.java /
    SkipToLastStrategy.java), PATTERN with quantifiers. Single-variable
    DEFINE predicates run on the regex tier (one may be left undefined
    = match-any); cross-variable DEFINE predicates (references to
    another variable or FIRST/LAST navigation) are lowered to the NFA
    tier (operators/cep.py match_nfa), which carries the full skip
    matrix, {n,m} quantifier expansion, and ALL ROWS PER MATCH too.
    SUM over doubles uses the decimal grid from
    `SET 'table.exec.match-recognize.sum-scale'` when present.
    """
    from flink_release_1_16_0_spark.operators.cep import (
        classify,
        match_nfa,
        match_regex_all_rows,
        match_regex_measures,
    )

    found = _extract_match_recognize(sql)
    if not found:
        return sql
    start, end, tbl, body, alias = found
    all_rows = bool(re.search(r"ALL\s+ROWS\s+PER\s+MATCH", body, re.IGNORECASE))
    sec = _parse_match_recognize_body(body)
    keys = [c.strip() for c in sec.get("partition_by", "").split(",") if c.strip()]
    # no PARTITION BY = one global partition (the reference routes the
    # whole stream to one NFA instance); a synthetic constant key keeps
    # the keyed tiers unchanged and is dropped from the output
    synthetic_key = not keys
    if synthetic_key:
        keys = ["__pk"]
    order_items = [c.strip() for c in sec.get("order_by", "").split(",") if c.strip()]
    if not order_items:
        raise ValueError("MATCH_RECOGNIZE requires ORDER BY")
    order_cols, order_asc = [], []
    for it in order_items:
        parts = it.split()
        order_cols.append(parts[0])
        order_asc.append(
            not (len(parts) > 1 and parts[-1].upper() == "DESC")
        )
    if not order_asc[0]:
        raise ValueError(
            "MATCH_RECOGNIZE primary ORDER BY column must be ascending "
            "(the reference requires an ascending time attribute)"
        )
    ts_col = order_cols[0]
    # second ORDER BY column (if any) is the deterministic tie-break id
    id_col = order_cols[1] if len(order_cols) > 1 else ts_col
    # full ORDER BY as the tiers' (internal col, asc) sort spec;
    # columns past the first two ride along as value columns
    order_spec = [("__ts", True)]
    if len(order_cols) > 1:
        order_spec.append(("__id", order_asc[1]))
        order_spec.extend(zip(order_cols[2:], order_asc[2:]))

    pat = sec["pattern"].strip()
    # PATTERN (...) WITHIN INTERVAL 'n' UNIT (Pattern.within / NFA
    # timeout pruning; CepOperator's within handling)
    within_ms = None
    wm_m = re.search(r"WITHIN\s+INTERVAL\s+'([\d.]+)'\s+(\w+)", pat, re.IGNORECASE)
    if wm_m:
        unit_ms = {
            "SECOND": 1000,
            "MINUTE": 60_000,
            "HOUR": 3_600_000,
            "DAY": 86_400_000,
        }.get(wm_m.group(2).upper().rstrip("S"))
        if unit_ms is None:
            raise ValueError(f"unsupported WITHIN unit {wm_m.group(2)!r}")
        within_ms = int(float(wm_m.group(1)) * unit_ms)
        pat = pat[: wm_m.start()].strip()
    skip_strategy = _parse_skip_strategy(body)
    if pat.startswith("(") and pat.endswith(")"):
        pat = pat[1:-1].strip()
    # quantifiers: + * ? {n} {n,} {n,m} {,m} and their ? reluctant forms
    # (CommonExecMatch.applyQuantifier's startNum/endNum matrix);
    # whitespace inside braces is stripped so the regex tier can splice
    # the quantifier into a Python pattern verbatim
    tokens = re.findall(r"(\w+)\s*([+*?]\??|\{\s*\d*\s*(?:,\s*\d*)?\s*\}\??)?", pat)
    tokens = [(v, (q or "").replace(" ", "")) for v, q in tokens if v]
    variables = [v for v, _ in tokens]

    defines: dict[str, str] = {}
    for item in _split_predicate_list(sec["define"]):
        var, pred = re.split(r"\s+AS\s+", item, maxsplit=1, flags=re.IGNORECASE)
        defines[var.strip()] = pred.strip()

    # Cross-variable DEFINE (a predicate reading another variable's
    # bound rows, incl. FIRST/LAST navigation) cannot be a per-row
    # static symbol — route those to the NFA tier (match_nfa), the
    # same split as nfa/NFA.java vs the planner's symbol precompute.
    def _is_cross_var(var: str, p: str) -> bool:
        if re.search(r"\b(FIRST|LAST)\s*\(", p, re.IGNORECASE):
            return True
        if re.search(r"\b(SUM|COUNT|AVG|MIN|MAX)\s*\(", p, re.IGNORECASE):
            # running aggregates over the partial match's bound rows
            # (GroupPatternProcessFunction semantics) need the NFA tier
            return True
        return any(
            re.search(rf"\b{o}\s*\.", p) for o in set(variables) if o != var
        )

    nfa_route = any(_is_cross_var(v, p) for v, p in defines.items())

    df = tenv.spark.table(tbl)
    if synthetic_key:
        df = df.withColumn("__pk", F.lit(0))
    dtypes = dict(df.dtypes)
    measures: dict[str, tuple[str, str, str, str]] = {}
    value_cols: list[str] = [
        c for c in order_cols[2:] if c in dtypes
    ]  # extra ORDER BY columns ride along for the tiers' sort
    hidden: dict[str, str] = {}  # hidden projected col -> SQL expr
    sum_scale = tenv._config.get("table.exec.match-recognize.sum-scale")
    vset = set(variables)

    def _out_type(agg: str, col: str, col_type: str | None) -> str:
        base = agg.split(":", 1)[0]
        if base == "count":
            return "bigint"
        if base == "avg":
            # measured divergence: the reference's AVG(INT) is integer
            # average; emitted as double here (documented in the
            # conformance suite)
            return "double"
        if base == "sum" and col_type in ("int", "bigint", "smallint"):
            return "bigint"
        return col_type or "double"

    def _use_col(col: str) -> None:
        # partition keys are already in the tier's frame; re-selecting
        # one as a value column would duplicate the pandas column
        if col in keys:
            return
        if col not in (ts_col, id_col) and col not in value_cols and (
            col in dtypes or col in hidden
        ):
            value_cols.append(col)

    def _hidden_col(expr_sql: str) -> tuple[str, str]:
        """Project a MEASURES/DEFINE expression as a hidden column so
        the tiers see a plain column (MatchCodeGenerator evaluates the
        expression inline; pre-projection is the Spark-idiomatic dual
        and keeps the expression in Catalyst)."""
        name = f"__mx{len(hidden)}"
        hidden[name] = expr_sql
        col_type = df.select(F.expr(expr_sql).alias(name)).dtypes[0][1]
        dtypes[name] = col_type
        return name, col_type

    _agg_alt = "|".join((*_MR_AGGS, "AVG"))
    for item in _split_predicate_list(sec.get("measures", "")):
        if not item:
            continue
        # MATCH_ROWTIME([col]) = the match's last row's time attribute
        m = re.fullmatch(
            r"MATCH_ROWTIME\s*\(\s*\w*\s*\)\s+AS\s+(\w+)", item, re.IGNORECASE
        )
        if m:
            measures[m.group(1)] = ("*", "last", ts_col, dtypes.get(ts_col, "timestamp"))
            continue
        # COUNT(*)
        m = re.fullmatch(r"COUNT\s*\(\s*\*\s*\)\s+AS\s+(\w+)", item, re.IGNORECASE)
        if m:
            measures[m.group(1)] = ("*", "count", "*", "bigint")
            continue
        # AGG(V.col [, offset]) / AGG(col [, offset]) — unqualified =
        # the universal variable (all rows of the match)
        m = re.fullmatch(
            rf"({_agg_alt})\s*\(\s*(?:(\w+)\s*\.\s*)?(\w+)\s*"
            r"(?:,\s*(\d+)\s*)?\)\s+AS\s+(\w+)",
            item,
            re.IGNORECASE,
        )
        if m and (
            m.group(2) in vset if m.group(2) else m.group(3) in dtypes
        ):
            agg = m.group(1).lower()
            var = m.group(2) or "*"
            col, off, out_alias = m.group(3), m.group(4), m.group(5)
            if off:
                if agg not in ("first", "last"):
                    raise ValueError(
                        f"logical offset only on FIRST/LAST: {item!r}"
                    )
                if int(off):
                    agg = f"{agg}:{int(off)}"
            measures[out_alias] = (var, agg, col, _out_type(agg, col, dtypes.get(col)))
            _use_col(col)
            continue
        # bare V.col (= LAST(V.col))
        m = re.fullmatch(r"(\w+)\s*\.\s*(\w+)\s+AS\s+(\w+)", item, re.IGNORECASE)
        if m and m.group(1) in vset:
            var, col, out_alias = m.group(1), m.group(2), m.group(3)
            measures[out_alias] = (var, "last", col, dtypes.get(col, "double"))
            _use_col(col)
            continue
        # general expression payloads: AGG(<expr>[, off]) AS a or
        # <expr> AS a, where every qualified reference names ONE
        # variable (or none = universal) — the expression becomes a
        # hidden pre-projected column
        m = re.fullmatch(r"(.*?)\s+AS\s+(\w+)", item, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError(f"cannot parse MEASURES item {item!r}")
        payload, out_alias = m.group(1).strip(), m.group(2)
        am = re.fullmatch(
            rf"({_agg_alt})\s*\((.*)\)", payload, re.IGNORECASE | re.DOTALL
        )
        if am:
            agg = am.group(1).lower()
            inner_parts = _split_top_level(am.group(2))
            inner = inner_parts[0].strip()
            off = inner_parts[1].strip() if len(inner_parts) > 1 else ""
            if off:
                if agg not in ("first", "last") or not off.isdigit():
                    raise ValueError(f"bad logical offset in {item!r}")
                if int(off):
                    agg = f"{agg}:{int(off)}"
        else:
            agg, inner = "last", payload
        ref_vars = {
            v for v in re.findall(r"\b(\w+)\s*\.", inner) if v in vset
        }
        if len(ref_vars) > 1:
            raise ValueError(
                f"MEASURES expression {item!r} mixes pattern variables "
                f"{sorted(ref_vars)}: aggregate one variable at a time"
            )
        var = ref_vars.pop() if ref_vars else "*"
        stripped = re.sub(rf"\b(?:{'|'.join(vset)})\s*\.\s*", "", inner)
        col, col_type = _hidden_col(stripped)
        measures[out_alias] = (var, agg, col, _out_type(agg, col, col_type))
        _use_col(col)
    if hidden:
        df = df.select("*", *[F.expr(e).alias(n) for n, e in hidden.items()])

    if nfa_route:
        steps = []
        for v, q in tokens:
            rng = re.fullmatch(r"\{(\d*)(?:,(\d*))?\}(\?)?", q)
            if rng and (rng.group(1) or rng.group(2)):
                # A{n,m} expands to n required + (m-n) optional same-var
                # steps; bindings accumulate per variable, so measures
                # and cross-variable references see one A run. A
                # trailing ? makes the optional tail reluctant; {,m}
                # means {0,m} (applyQuantifier startNum=0).
                lo = int(rng.group(1) or 0)
                hi = rng.group(2)
                # greedy tails are POSSESSIVE (?g / *g): the reference's
                # greedy loop never yields consumed rows back
                tail = "?g" if rng.group(3) is None else "??"
                star = "*g" if rng.group(3) is None else "*?"
                steps.extend([(v, "1")] * lo)
                if hi == "":  # {n,} unbounded tail
                    steps.append((v, star))
                elif hi is not None:
                    steps.extend([(v, tail)] * (int(hi) - lo))
            elif q == "?":
                # SQL optional is NEVER greedy in the reference
                # (CommonExecMatch.applyQuantifier drops greedy for
                # isOptional): both branches live, earliest completion
                # emits — the NFA tier's ?e quantifier
                steps.append((v, "?e"))
            elif q in ("+", "*"):
                # SQL greedy loops are the reference's Pattern.greedy():
                # possessive, no backtracking
                steps.append((v, q + "g"))
            elif q in ("", "??", "+?", "*?"):
                steps.append((v, q or "1"))
            else:
                raise NotImplementedError(
                    f"NFA-tier quantifier {q!r} on {v!r} not supported "
                    "(one of: <none> ? + * ?? +? *? {{n}} {{n,}} {{n,m}} "
                    "and their ? reluctant forms)"
                )
        rename = {ts_col: "__ts", id_col: "__id"}
        compiled = {
            v: _compile_define_predicate(
                p, v, variables, rename, columns=list(dtypes)
            )
            for v, p in defines.items()
        }
        for p in defines.values():
            # every column a predicate can touch must ride into the
            # tier: qualified V.col refs AND bare identifiers that name
            # real columns (candidate-row refs per the SQL standard)
            for mm in re.finditer(r"\b(\w+)\s*\.\s*(\w+)", p):
                c = mm.group(2)
                if (
                    mm.group(1) in set(variables)
                    and c in dtypes
                    and c not in (ts_col, id_col)
                    and c not in keys
                    and c not in value_cols
                ):
                    value_cols.append(c)
            for tok in re.findall(r"(?<![.\w'\"])([A-Za-z_]\w*)(?!\s*\.)", p):
                if (
                    tok in dtypes
                    and tok not in (ts_col, id_col)
                    and tok not in keys
                    and tok not in value_cols
                ):
                    value_cols.append(tok)
        out = match_nfa(
            df,
            keys=keys,
            ts_col=ts_col,
            id_col=id_col,
            steps=steps,
            defines=compiled,
            measures=measures,
            value_cols=[c for c in value_cols if c not in (ts_col, id_col)],
            grid_scale=int(sum_scale) if sum_scale else None,
            within_ms=within_ms,
            skip=skip_strategy,
            all_rows=all_rows,
            order_spec=order_spec,
        )
    else:
        undefined = [v for v in variables if v not in defines]
        # Symbols are keyed by the NORMALIZED predicate, not the
        # variable: PATTERN (S C+ E) with S and E both defined as
        # `event_type = 'purchase'` must classify every purchase row to
        # ONE shared symbol or E could never match (classification is
        # per-row static; the named regex groups still distinguish the
        # variables for spans/measures/skip targets).
        norm = {
            var: re.sub(rf"\b{var}\.", "", pred) for var, pred in defines.items()
        }
        pred_sym: dict[str, str] = {}
        symbols: dict[str, str] = {}
        for var in dict.fromkeys(variables):
            key = norm.get(var, "__match_any__")
            if key not in pred_sym:
                pred_sym[key] = chr(ord("a") + len(pred_sym))
            symbols[var] = pred_sym[key]
        symbol_exprs = {}
        for var in defines:
            symbol_exprs[symbols[var]] = F.expr(norm[var])
        default_sym = symbols[undefined[0]] if undefined else "-"

        def _rx_quant(q: str) -> str:
            # SQL ? is never greedy (applyQuantifier drops greedy for
            # optionals): lower to the reluctant regex optional so the
            # earlier completion wins, matching the NFA emission rule.
            # SQL greedy loops are the reference's Pattern.greedy() —
            # possessive, no backtracking (python 3.11 ++ / *+ forms).
            if q == "?":
                return "??"
            if q in ("+", "*"):
                return q + "+"
            if re.fullmatch(r"\{\d*(?:,\d*)?\}", q):
                return q + "+"
            return q

        regex = "".join(
            f"(?P<{var}>{symbols[var]}{_rx_quant(quant)})"
            for var, quant in tokens
        )
        tier = match_regex_all_rows if all_rows else match_regex_measures
        out = tier(
            df,
            keys=keys,
            ts_col=ts_col,
            symbol=classify(symbol_exprs, default=default_sym),
            pattern=regex,
            id_col=id_col,
            measures=measures,
            value_cols=[c for c in value_cols if c not in (ts_col, id_col)],
            grid_scale=int(sum_scale) if sum_scale else None,
            within_ms=within_ms,
            skip=skip_strategy,
            order_spec=order_spec,
        )
    if synthetic_key:
        out = out.drop("__pk")
    if not all_rows:
        out = out.drop("match_no")
    view = f"__match_recognize_{next(_MR_COUNTER)}"
    out.createOrReplaceTempView(view)
    spliced = (
        sql[:start] + view + (f" AS {alias}" if alias else "") + sql[end:]
    )
    return _translate_match_recognize(tenv, spliced)
