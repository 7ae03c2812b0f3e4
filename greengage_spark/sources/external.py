"""External tables + COPY-style bulk load/unload.

The reference reads/writes external data through CREATE EXTERNAL TABLE
(gram.y:5432-5501) over file/gpfdist/http/EXECUTE protocols with TEXT/CSV
parsing shared with COPY (access/external/fileam.c, commands/copy.c), and
tolerates bad rows via single-row error handling with a reject limit
(SREH, src/backend/cdb/cdbsreh.c: ``SEGMENT REJECT LIMIT n [PERCENT]``,
bad rows to an error log).

Spark mapping: DataFrameReader with PERMISSIVE mode; rejected rows are
captured through ``columnNameOfCorruptRecord`` (≈ the SREH error log) and
the reject limit is enforced with a distributed count — no driver-side
row loop, so the check holds at any scale.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from greengage_spark.dialect.spans import split_top_level

CORRUPT_COL = "_corrupt_record"


class RejectLimitExceeded(Exception):
    """SREH 'segment reject limit reached' (cdbsreh.c) equivalent."""


@dataclass
class ExternalTable:
    """READABLE EXTERNAL TABLE: location + format + SREH options.

    fmt: 'csv' | 'text' | 'json' (reference: 't'ext/'c'sv/'b'custom,
    pg_exttable.h:124-126; json plays the custom-format role here).
    """

    location: str
    schema: str | StructType
    fmt: str = "csv"
    delimiter: str = ","
    null_str: str = ""
    header: bool = False
    reject_limit: int | None = None
    reject_percent: bool = False

    def read(self, spark: SparkSession) -> DataFrame:
        schema = self.schema
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        # corrupt-record column = SREH error log
        full = StructType(schema.fields + [StructField(CORRUPT_COL, StringType(), True)])

        if self.fmt == "csv":
            df = (
                spark.read.schema(full)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", CORRUPT_COL)
                .option("sep", self.delimiter)
                .option("nullValue", self.null_str)
                .option("header", str(self.header).lower())
                .csv(self.location)
            )
        elif self.fmt == "json":
            df = (
                spark.read.schema(full)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", CORRUPT_COL)
                .json(self.location)
            )
        elif self.fmt == "text":
            # TEXT protocol: delimiter-split line format, same parser family
            # as COPY (copy.c); tab-delimited by default like PG.
            df = (
                spark.read.schema(full)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", CORRUPT_COL)
                .option("sep", self.delimiter if self.delimiter != "," else "\t")
                .option("nullValue", self.null_str or "\\N")
                .csv(self.location)
            )
        else:
            raise ValueError(f"unsupported external format {self.fmt!r}")

        if self.reject_limit is not None:
            df = df.cache()
            bad = df.filter(F.col(CORRUPT_COL).isNotNull()).count()
            limit = self.reject_limit
            if self.reject_percent:
                total = df.count()
                if total and 100.0 * bad / total > limit:
                    raise RejectLimitExceeded(f"{bad}/{total} rows rejected > {limit}%")
            elif bad > limit:
                raise RejectLimitExceeded(f"{bad} rows rejected > limit {limit}")
        return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


@dataclass
class ExecuteExternalTable:
    """EXECUTE-protocol readable external table (gram.y:5442 EXECUTE
    clause; url_execute.c): run a shell command per segment, parse its
    stdout with the TEXT/CSV line parser.

    Spark mapping: one task per declared segment (``repartition(n)`` over
    the segment-id range), the command runs ON THE EXECUTORS inside
    ``mapInPandas`` with the reference's environment contract
    (GP_SEGMENT_ID / GP_SEGMENT_COUNT), and line parsing is ``from_csv``
    — JVM-side, same family as the LOCATION parser.  ON MASTER maps to a
    single segment.  At scale this is exactly gpfdist-EXECUTE's shape:
    command fan-out ∝ segments, no driver involvement in the data path.
    """

    command: str
    schema: str | StructType
    fmt: str = "text"
    delimiter: str | None = None
    null_str: str = ""
    n_segments: int = 8

    def read(self, spark: SparkSession) -> DataFrame:
        schema = self.schema
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        sep = self.delimiter or ("\t" if self.fmt == "text" else ",")
        cmd, nseg = self.command, self.n_segments

        def run(batches):
            import os
            import subprocess

            import pandas as pd

            for pdf in batches:
                for seg in pdf["seg"]:
                    env = dict(
                        os.environ,
                        GP_SEGMENT_ID=str(int(seg)),
                        GP_SEGMENT_COUNT=str(nseg),
                    )
                    res = subprocess.run(
                        cmd, shell=True, capture_output=True, text=True, env=env
                    )
                    if res.returncode != 0:
                        raise RuntimeError(
                            f"external command failed on segment {seg}: "
                            f"{res.stderr.strip() or res.returncode}"
                        )
                    lines = [ln for ln in res.stdout.splitlines() if ln]
                    yield pd.DataFrame({"line": lines})

        lines = (
            spark.range(self.n_segments)
            .select(F.col("id").cast("int").alias("seg"))
            .repartition(self.n_segments, "seg")
            .mapInPandas(run, "line string")
        )
        opts = {"sep": sep, "nullValue": self.null_str or "\\N"}
        parsed = lines.select(
            F.from_csv(F.col("line"), schema.simpleString(), opts).alias("r")
        )
        return parsed.select("r.*")


@dataclass
class FixedWidthExternalTable:
    """FORMAT 'CUSTOM' (formatter='fixedwidth_in', col='width', ...) —
    contrib/formatter_fixedwidth/fixedwidth.c.

    Fields are fixed byte slices of each line; trailing blanks strip
    unless preserve_blanks (extract_field); the null option compares
    against the blank-stripped field (make_null_val_with_blanks pads
    the null with blanks to the field size, which is the same test).
    The whole read is JVM-side substring/rtrim column expressions over
    spark.read.text — no UDF, so it scales like any text scan.
    """

    location: str
    schema: str
    widths: list  # [(colname, width), ...] in declared column order
    preserve_blanks: bool = False
    null_str: str | None = None
    line_delim: str = "\n"

    def read(self, spark: SparkSession) -> DataFrame:
        schema = StructType.fromDDL(self.schema)
        names = [f.name.lower() for f in schema.fields]
        if [n for n, _w in self.widths] != names:
            raise ValueError(
                "fixedwidth formatter options must name every table "
                f"column in order (table: {names}, options: "
                f"{[n for n, _w in self.widths]})"
            )
        reader = spark.read
        if self.line_delim != "\n":
            reader = reader.option("lineSep", self.line_delim)
        df = reader.text(self.location)
        cols = []
        offset = 1
        for field, (_n, w) in zip(schema.fields, self.widths):
            raw = F.substring(F.col("value"), offset, w)
            val = raw if self.preserve_blanks else F.rtrim(raw)
            if self.null_str is not None:
                val = F.when(
                    F.rtrim(raw) == F.lit(self.null_str), F.lit(None)
                ).otherwise(val)
            cols.append(val.cast(field.dataType).alias(field.name))
            offset += w
        return df.select(cols)


@dataclass
class ExternalTableDef:
    """Parsed CREATE EXTERNAL TABLE statement (gram.y:5432-5501)."""

    name: str
    writable: bool
    table: object  # ExternalTable | ExecuteExternalTable | None (writable)
    location: str = ""  # writable target
    fmt: str = "csv"
    header: bool = False


def _strip_file_uri(uri: str) -> str:
    m = re.match(r"(?is)^file://[^/]*(/.*)$", uri)
    if m:
        return m.group(1)
    return uri


def parse_create_external(stmt: str) -> ExternalTableDef:
    """CREATE [READABLE|WRITABLE] EXTERNAL [WEB] TABLE name (cols)
    { LOCATION ('uri', ...) | EXECUTE 'cmd' [ON ALL|MASTER|n] }
    FORMAT 'TEXT'|'CSV' [(DELIMITER 'c' [NULL 's'] [HEADER])]
    [SEGMENT REJECT LIMIT n [ROWS|PERCENT]]"""
    m = re.match(
        r"(?is)^create\s+(?:(readable|writable)\s+)?external\s+(?:web\s+)?"
        r"table\s+([\w.]+)\s*\((.*?)\)\s*"
        r"(?:location\s*\(\s*(.*?)\s*\)|execute\s+'((?:[^']|'')*)'"
        r"(?:\s+on\s+(all|master|\d+))?)\s*"
        r"format\s+'(text|csv|custom)'\s*(?:\(([^)]*)\))?"
        r"(?:\s+log\s+errors)?"
        r"(?:\s+segment\s+reject\s+limit\s+(\d+)\s*(rows|percent)?)?"
        # writable tables commonly declare a distribution (gram.y
        # OptDistributedBy); informational here — partitioning is Spark's
        r"(?:\s+distributed\s+(?:randomly|replicated|by\s*\([^)]*\)))?\s*$",
        stmt.strip(),
    )
    if not m:
        raise NotImplementedError(
            "CREATE [READABLE|WRITABLE] EXTERNAL TABLE name (cols) "
            "LOCATION (...)|EXECUTE '...' FORMAT 'TEXT'|'CSV'|'CUSTOM' "
            "[(opts)] [SEGMENT REJECT LIMIT n [ROWS|PERCENT]]"
        )
    (writable, name, cols, loc_raw, exec_cmd, exec_on, fmt, fmt_opts,
     rej, rej_unit) = m.groups()
    writable = (writable or "readable").lower() == "writable"
    fmt = fmt.lower()
    from greengage_spark.dialect.ddl import map_pg_type

    schema = ", ".join(
        f"{c.split()[0]} {map_pg_type(' '.join(c.split()[1:]))}"
        for c in split_top_level(cols)
    )
    if fmt == "custom":
        # contrib/formatter_fixedwidth: the only custom formatter the
        # reference ships in-tree
        opts = {
            k.lower(): v
            for k, v in re.findall(
                r"(\w+)\s*=\s*E?'((?:[^']|'')*)'", fmt_opts or ""
            )
        }
        formatter = opts.pop("formatter", None)
        if writable or formatter == "fixedwidth_out":
            raise NotImplementedError(
                "WRITABLE fixedwidth external tables (fixedwidth_out): "
                "unload via copy_to with rpad-formatted columns"
            )
        if formatter != "fixedwidth_in":
            raise NotImplementedError(
                f"custom formatter {formatter!r}: fixedwidth_in is the "
                "formatter the reference ships (contrib/"
                "formatter_fixedwidth)"
            )
        if exec_cmd is not None or rej is not None:
            raise NotImplementedError(
                "fixedwidth formatter supports LOCATION file tables "
                "without SREH"
            )
        preserve = opts.pop("preserve_blanks", "off").lower() in (
            "on", "true", "1",
        )
        null_v = opts.pop("null", None)
        line_delim = opts.pop("line_delim", "\n").replace("\\n", "\n")
        widths = [(k, int(v)) for k, v in opts.items()]
        uris = [s.strip().strip("'") for s in loc_raw.split(",") if s.strip()]
        if len(uris) != 1:
            raise NotImplementedError(
                "fixedwidth external tables take one LOCATION URI"
            )
        ftab = FixedWidthExternalTable(
            location=_strip_file_uri(uris[0]),
            schema=schema,
            widths=widths,
            preserve_blanks=preserve,
            null_str=null_v,
            line_delim=line_delim,
        )
        return ExternalTableDef(name=name, writable=False, table=ftab)
    delimiter = None
    null_str = ""
    header = False
    if fmt_opts:
        md = re.search(
            r"(?is)delimiter\s+(?:as\s+)?(?:e)?'((?:[^']|'')*)'", fmt_opts
        )
        if md:
            delimiter = md.group(1).replace("''", "'").replace("\\t", "\t")
        mn = re.search(r"(?is)null\s+(?:as\s+)?'((?:[^']|'')*)'", fmt_opts)
        if mn:
            null_str = mn.group(1).replace("''", "'")
        header = bool(re.search(r"(?is)\bheader\b", fmt_opts))
    if exec_cmd is not None:
        if writable:
            raise NotImplementedError("WRITABLE EXECUTE external tables")
        on = (exec_on or "all").lower()
        nseg = 1 if on == "master" else 8 if on == "all" else int(on)
        tab = ExecuteExternalTable(
            command=exec_cmd.replace("''", "'"),
            schema=schema,
            fmt=fmt,
            delimiter=delimiter,
            null_str=null_str,
            n_segments=nseg,
        )
        return ExternalTableDef(name=name, writable=False, table=tab)
    raw_uris = [s.strip().strip("'") for s in loc_raw.split(",") if s.strip()]
    if any(u.lower().startswith(("gpfdist://", "gpfdists://")) for u in raw_uris):
        # gpfdist wire protocol (url_curl.c client side): one HTTP
        # connection per declared segment, opened on the executors;
        # gpfdists:// adds mutual TLS from SET greengage.gpfdists.*
        if not all(
            u.lower().startswith(("gpfdist://", "gpfdists://"))
            for u in raw_uris
        ):
            raise NotImplementedError(
                "LOCATION lists cannot mix gpfdist:// with other protocols"
            )
        if writable:
            # parallel unload (url_curl.c forwrite POST; fileam.c
            # external_insert): INSERT streams each partition out through
            # its own daemon connection
            from greengage_spark.sources.gpfdist import GpfdistWritableTable

            wtab = GpfdistWritableTable(
                uris=raw_uris,
                schema=schema,
                fmt=fmt,
                delimiter=delimiter,
                null_str=null_str,
            )
            return ExternalTableDef(
                name=name, writable=True, table=wtab, fmt=fmt, header=header
            )
        from greengage_spark.sources.gpfdist import GpfdistExternalTable

        gtab = GpfdistExternalTable(
            uris=raw_uris,
            schema=schema,
            fmt=fmt,
            delimiter=delimiter,
            null_str=null_str,
        )
        return ExternalTableDef(name=name, writable=False, table=gtab)
    if any(re.match(r"(?i)^s3://", u) for u in raw_uris):
        # gpcloud protocol (gpcontrib/gpcloud): exactly one LOCATION URI
        # (gpcloud.cpp single-url contract); options ride the URI string
        if len(raw_uris) != 1:
            raise NotImplementedError(
                "s3 external tables take exactly one LOCATION URI"
            )
        if writable:
            # gpcloud parallel unload (gpwriter.cpp): one multipart PUT
            # session per input partition through the pure-Python REST
            # client (or s3a on jar-equipped clusters via copy_to)
            from greengage_spark.sources.s3_ext import (
                S3WritableExternalTable,
                parse_s3_url,
            )

            wtab = S3WritableExternalTable(
                location=parse_s3_url(raw_uris[0]),
                schema=schema,
                fmt=fmt,
                delimiter=delimiter,
                null_str=null_str,
                header=header,
            )
            return ExternalTableDef(
                name=name, writable=True, table=wtab, fmt=fmt, header=header
            )
        from greengage_spark.sources.s3_ext import S3ExternalTable, parse_s3_url

        stab = S3ExternalTable(
            location=parse_s3_url(raw_uris[0]),
            schema=schema,
            fmt=fmt,
            delimiter=delimiter,
            null_str=null_str,
            header=header,
            reject_limit=int(rej) if rej else None,
            reject_percent=(rej_unit or "rows").lower() == "percent",
        )
        return ExternalTableDef(name=name, writable=False, table=stab)
    if any(re.match(r"(?i)^https?://", u) for u in raw_uris):
        # http protocol: each URI maps to exactly one segment and is
        # fetched whole (createplan.c:1437 mapping rule)
        if not all(re.match(r"(?i)^https?://", u) for u in raw_uris):
            raise NotImplementedError(
                "LOCATION lists cannot mix http(s):// with other protocols"
            )
        if writable:
            raise NotImplementedError(
                "WRITABLE http external tables (the reference writes only "
                "through gpfdist, url_curl.c forwrite POST path)"
            )
        from greengage_spark.sources.http_ext import HttpExternalTable

        htab = HttpExternalTable(
            uris=raw_uris,
            schema=schema,
            fmt=fmt,
            delimiter=delimiter,
            null_str=null_str,
            header=header,
            reject_limit=int(rej) if rej else None,
            reject_percent=(rej_unit or "rows").lower() == "percent",
        )
        return ExternalTableDef(name=name, writable=False, table=htab)
    locations = [_strip_file_uri(u) for u in raw_uris]
    if writable:
        return ExternalTableDef(
            name=name,
            writable=True,
            table=None,
            location=locations[0],
            fmt=fmt,
            header=header,
        )
    tab = ExternalTable(
        location=locations[0] if len(locations) == 1 else ",".join(locations),
        schema=schema,
        fmt=fmt,
        delimiter=delimiter or ("\t" if fmt == "text" else ","),
        null_str=null_str,
        header=header,
        reject_limit=int(rej) if rej else None,
        reject_percent=(rej_unit or "rows").lower() == "percent",
    )
    return ExternalTableDef(name=name, writable=False, table=tab)


def copy_to(df: DataFrame, location: str, fmt: str = "csv", *, header: bool = True, mode: str = "overwrite") -> None:
    """WRITABLE EXTERNAL TABLE / COPY TO: parallel unload, one file per
    partition (the reference's COPY ON SEGMENT, copy.c:2071)."""
    w = df.write.mode(mode)
    if fmt == "csv":
        w.option("header", str(header).lower()).csv(location)
    elif fmt == "text":
        # TEXT protocol: tab-delimited, \N nulls (copy.c defaults)
        w.option("sep", "\t").option("nullValue", "\\N").csv(location)
    elif fmt == "json":
        w.json(location)
    elif fmt == "parquet":
        w.parquet(location)
    else:
        raise ValueError(f"unsupported unload format {fmt!r}")
