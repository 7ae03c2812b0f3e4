"""Greenplum DDL front-end: CREATE TABLE with distribution + partitioning.

Grammar subset (reference: src/backend/parser/gram.y —
``DISTRIBUTED BY / RANDOMLY / REPLICATED`` :4835-4851, ``PARTITION BY
RANGE/LIST`` parse_partition.c:230-238/:1030, storage options ``WITH
(appendonly=..., orientation=..., compresstype=...)``):

    CREATE TABLE name (
        col type [NOT NULL] [DEFAULT expr], ...
    )
    [WITH (appendonly=true, orientation=column, compresstype=zstd, ...)]
    [DISTRIBUTED BY (col, ...) | DISTRIBUTED RANDOMLY | DISTRIBUTED REPLICATED]
    [PARTITION BY {RANGE|LIST} (col) ( ...spec... )]

Spark mapping (SURVEY §1.1):

* DISTRIBUTED BY        → hash ``repartition`` keys on write (GpPolicy
                          POLICYTYPE_PARTITIONED, gp_policy.h:99-104)
* DISTRIBUTED RANDOMLY  → round-robin repartition
* DISTRIBUTED REPLICATED→ broadcast hint at join sites
* PARTITION BY LIST(c)  → hive-style ``partitionBy(c)`` parquet layout
* PARTITION BY RANGE(c) → ``partitionBy`` on a derived bucket column
                          (date_trunc month for dates; caller-provided
                          bucket expr otherwise) — partition pruning then
                          serves the reference's static+dynamic partition
                          elimination (CXformSelect2DynamicIndexGet etc.)
* WITH (appendonly/orientation/compresstype) → recorded, mapped to the
  parquet writer codec where possible; heap/AO/AOCS all land on parquet
  (columnar) — storage orientation is a no-op by design (SURVEY §1.1).

The storage itself is a WritableTable (operators/dml.py) so DDL-created
tables immediately support INSERT/UPDATE/DELETE.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from greengage_spark.dialect.spans import close_of, split_top_level

# ---------------- type mapping (SURVEY §1.2, pg_type.h) ----------------

_TYPE_MAP = {
    "bool": "boolean", "boolean": "boolean",
    "int2": "short", "smallint": "short",
    "int4": "int", "int": "int", "integer": "int", "serial": "int",
    "int8": "long", "bigint": "long", "bigserial": "long", "oid": "long",
    "float4": "float", "real": "float",
    "float8": "double",
    "text": "string", "name": "string", "uuid": "string",
    # contrib/citext: stored as string, case-insensitive semantics folded
    # at statement level (operators/citext.py)
    "citext": "string",
    # contrib/ltree: label paths stored as their text form; operators and
    # functions lower to JVM expressions (functions/ltree_ops.py)
    "ltree": "string", "lquery": "string",
    "json": "string", "jsonb": "string", "xml": "string",
    "inet": "string", "cidr": "string", "macaddr": "string",
    # geometric types live as their PG literal text (functions/geometry.py)
    "point": "string", "box": "string", "circle": "string",
    "lseg": "string", "path": "string", "polygon": "string",
    "money": "decimal(19,2)",
    "bytea": "binary",
    "date": "date",
    "time": "string", "timetz": "string",
    "timestamp": "timestamp_ntz", "timestamptz": "timestamp",
    "interval": "string",
}


def map_pg_type(pg_type: str) -> str:
    """PG type name → Spark DDL type (docstring table, SURVEY §1.2)."""
    t = pg_type.strip().lower()
    t = re.sub(r"\s+", " ", t)
    if t.endswith("[]"):
        return f"array<{map_pg_type(t[:-2])}>"
    if t == "double precision":
        return "double"
    m = re.match(r"(numeric|decimal)\s*(\((\d+)\s*,\s*(\d+)\))?$", t)
    if m:
        if m.group(2) is None:
            return "decimal(38,18)"  # PG unbounded numeric: documented cap
        p, s = int(m.group(3)), int(m.group(4))
        if p > 38:
            raise ValueError(f"numeric precision {p} exceeds Spark's 38-digit cap")
        return f"decimal({p},{s})"
    m = re.match(r"(varchar|character varying|char|character|bpchar)\s*(\(\s*\d+\s*\))?$", t)
    if m:
        return "string"  # char(n) pad semantics emulated at function level
    # gram.y Numeric: FLOAT is float8; FLOAT(p) is float4 for p 1-24 and
    # float8 for 25-53, and any other precision is an error
    m = re.match(r"float\s*(\(\s*(\d+)\s*\))?$", t)
    if m:
        if m.group(1) is None:
            return "double"
        p = int(m.group(2))
        if not 1 <= p <= 53:
            raise ValueError(f"precision for type float must be 1-53, got {p}")
        return "float" if p <= 24 else "double"
    m = re.match(r"timestamp(\s*\(\d+\))?( without time zone)?$", t)
    if m:
        return "timestamp_ntz"
    m = re.match(r"timestamp(\s*\(\d+\))?( with time zone)$", t)
    if m:
        return "timestamp"
    if t in _TYPE_MAP:
        return _TYPE_MAP[t]
    raise ValueError(f"unmapped PG type: {pg_type!r}")


# ---------------- DDL model ----------------

@dataclass
class ColumnDef:
    name: str
    pg_type: str
    spark_type: str
    not_null: bool = False
    default: str | None = None  # DEFAULT expression text (rewriteTargetListIU)
    # CHECK expression over this column (domain constraint, typecmds.c):
    # PG-dialect text with VALUE already replaced by the column name;
    # enforced in the INSERT write projection alongside NOT NULL
    check: str | None = None
    # declaring domain name, when the column was declared with one —
    # ALTER DOMAIN propagates constraint changes to these columns
    domain: str | None = None


@dataclass
class TableDef:
    name: str
    columns: list[ColumnDef]
    distribution: str = "random"  # 'hash' | 'random' | 'replicated'
    dist_keys: tuple[str, ...] = ()
    partition_kind: str | None = None  # 'range' | 'list'
    partition_col: str | None = None
    partition_spec_raw: str = ""
    # SUBPARTITION BY levels (parse_partition.c:155-226 depth machinery):
    # [(kind, col, template_raw), ...] outermost-subpartition first.  Each
    # level's TEMPLATE expands independently; the physical layout nests
    # one hive directory per level (__part/__subpart/__subpart2/...).
    subpartitions: list = field(default_factory=list)
    storage_options: dict[str, str] = field(default_factory=dict)
    # ALTER ... ADD/DROP/SPLIT PARTITION mutate the bound list in place
    # (session-scoped, like the rest of the DDL catalog)
    _bounds_override: list | None = None

    def partition_col_type(self) -> str:
        return next(
            (c.spark_type for c in self.columns if c.name == self.partition_col),
            "string",
        )

    def partition_bounds(self):
        """Declared bounds parsed from the recorded spec (START/END/EVERY
        expansion, parse_partition.c:1238); [] when the spec is empty.
        Partition-maintenance ALTERs replace the list via
        set_partition_bounds."""
        if self._bounds_override is not None:
            return self._bounds_override
        if not self.partition_spec_raw:
            return []
        from greengage_spark.operators.partitions import parse_partition_spec

        return parse_partition_spec(
            self.partition_spec_raw, self.partition_col_type()
        )

    def set_partition_bounds(self, bounds) -> None:
        self._bounds_override = bounds

    def _col_type(self, col: str) -> str:
        return next(
            (c.spark_type for c in self.columns if c.name == col), "string"
        )

    def partition_levels(self):
        """All partition levels as [(kind, col, bounds)], level 0 = the top
        PARTITION BY, deeper levels from SUBPARTITION TEMPLATEs."""
        from greengage_spark.operators.partitions import parse_partition_spec

        if self.partition_kind is None:
            return []
        levels = [(self.partition_kind, self.partition_col, self.partition_bounds())]
        for kind, col, template_raw in self.subpartitions:
            bounds = (
                parse_partition_spec(template_raw, self._col_type(col))
                if template_raw
                else []
            )
            levels.append((kind, col, bounds))
        return levels

    @staticmethod
    def level_dir_col(i: int) -> str:
        """Hive directory column for partition level i."""
        if i == 0:
            return "__part"
        return "__subpart" if i == 1 else f"__subpart{i}"

    @property
    def schema_ddl(self) -> str:
        return ", ".join(f"{c.name} {c.spark_type}" for c in self.columns)

    def schema(self) -> StructType:
        return StructType.fromDDL(self.schema_ddl)


# ---------------- parser ----------------

_CREATE_RE = re.compile(
    r"^\s*create\s+(?:temp(?:orary)?\s+)?table\s+(?:if\s+not\s+exists\s+)?"
    r"(?P<name>[\w.\"]+)\s*\(",
    re.IGNORECASE,
)


_CONSTRAINT_START = re.compile(
    r"^(primary\s+key|unique|check|foreign\s+key|constraint|exclude)\b", re.IGNORECASE
)


def _parse_column(item: str) -> ColumnDef | None:
    if _CONSTRAINT_START.match(item):
        return None  # table constraints: accepted + ignored (no indexes on Spark)
    m = re.match(r'^("?[\w]+"?)\s+(.*)$', item, re.DOTALL)
    if not m:
        raise ValueError(f"cannot parse column def: {item!r}")
    name = m.group(1).strip('"')
    rest = m.group(2)
    # strip column constraints from the right: NOT NULL / NULL / DEFAULT ... /
    # PRIMARY KEY / UNIQUE / REFERENCES ... / ENCODING (...)
    not_null = bool(re.search(r"\bnot\s+null\b", rest, re.IGNORECASE))
    md = re.search(
        r"\bdefault\s+(.+?)(?:\s+(?:not\s+null|null|primary|unique|"
        r"references|check|encoding)\b|$)",
        rest,
        re.IGNORECASE | re.DOTALL,
    )
    default = md.group(1).strip() if md else None
    rest = re.split(
        r"\b(?:not\s+null|null|default|primary|unique|references|check|encoding)\b",
        rest,
        maxsplit=1,
        flags=re.IGNORECASE,
    )[0].strip()
    return ColumnDef(name, rest, map_pg_type(rest), not_null, default)


def parse_create_table(ddl: str) -> TableDef:
    ddl = ddl.strip().rstrip(";")
    m = _CREATE_RE.match(ddl)
    if not m:
        raise ValueError("not a CREATE TABLE statement")
    name = m.group("name").strip('"')
    open_idx = ddl.index("(", m.start("name"))
    close_idx = close_of(ddl, open_idx)
    body = ddl[open_idx + 1 : close_idx]
    tail = ddl[close_idx + 1 :]

    columns = [c for c in map(_parse_column, split_top_level(body)) if c is not None]
    td = TableDef(name=name, columns=columns)

    mw = re.search(r"\bwith\s*\(", tail, re.IGNORECASE)
    if mw:
        w_open = tail.index("(", mw.start())
        w_close = close_of(tail, w_open)
        for opt in split_top_level(tail[w_open + 1 : w_close]):
            k, _, v = opt.partition("=")
            td.storage_options[k.strip().lower()] = v.strip().lower()

    md = re.search(
        r"\bdistributed\s+(randomly|replicated|by\s*\()", tail, re.IGNORECASE
    )
    if md:
        kind = md.group(1).lower()
        if kind == "randomly":
            td.distribution = "random"
        elif kind == "replicated":
            td.distribution = "replicated"
        else:
            d_open = tail.index("(", md.start())
            d_close = close_of(tail, d_open)
            td.distribution = "hash"
            td.dist_keys = tuple(
                k.strip().strip('"')
                for k in split_top_level(tail[d_open + 1 : d_close])
            )

    mp = re.search(r"\bpartition\s+by\s+(range|list)\s*\(", tail, re.IGNORECASE)
    if mp:
        td.partition_kind = mp.group(1).lower()
        p_open = tail.index("(", mp.start())
        p_close = close_of(tail, p_open)
        td.partition_col = tail[p_open + 1 : p_close].strip().strip('"')
        pos = p_close + 1
        # SUBPARTITION BY kind (col) [SUBPARTITION TEMPLATE (...)], repeated
        # per level (parse_partition.c:155-226).  Each level's TEMPLATE body
        # is recorded verbatim, like the top-level spec.
        while True:
            msb = re.match(
                r"(?is)\s*subpartition\s+by\s+(range|list)\s*\(", tail[pos:]
            )
            if not msb:
                break
            sb_open = pos + msb.end() - 1
            sb_close = close_of(tail, sb_open)
            sub_kind = msb.group(1).lower()
            sub_col = tail[sb_open + 1 : sb_close].strip().strip('"')
            if "," in sub_col:
                raise NotImplementedError(
                    "multi-column SUBPARTITION BY keys are not supported"
                )
            pos = sb_close + 1
            template_raw = ""
            mt = re.match(r"(?is)\s*subpartition\s+template\s*\(", tail[pos:])
            if mt:
                t_open = pos + mt.end() - 1
                t_close = close_of(tail, t_open)
                template_raw = tail[t_open : t_close + 1]
                pos = t_close + 1
            td.subpartitions.append((sub_kind, sub_col, template_raw))
        # top-level partition spec body (START/END/EVERY/VALUES...) verbatim;
        # hive-style layout derives partitions from data when absent.
        ms = re.search(r"\(", tail[pos:])
        if ms:
            s_open = pos + ms.start()
            td.partition_spec_raw = tail[s_open : close_of(tail, s_open) + 1]
            if td.subpartitions and re.search(
                r"(?is)\bsubpartition\b", td.partition_spec_raw
            ):
                raise NotImplementedError(
                    "inline per-partition SUBPARTITION specs are not "
                    "supported; declare a SUBPARTITION TEMPLATE instead"
                )
    return td


# ---------------- executor ----------------

class DDLCatalog:
    """Session catalog of DDL-created tables backed by WritableTable."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.tables: dict[str, TableDef] = {}

    def _storage(self, td: TableDef):
        from greengage_spark.operators.dml import WritableTable

        keys = td.dist_keys if td.distribution == "hash" else ()
        return WritableTable(self.spark, f"{self.root}/{td.name}", dist_keys=keys)

    def create_table(self, ddl: str) -> TableDef:
        td = parse_create_table(ddl)
        if td.name in self.tables:
            raise ValueError(f"table {td.name} already exists")
        self._storage(td).create(
            self.spark.createDataFrame([], td.schema())
        )
        self.tables[td.name] = td
        return td

    def create_table_as(
        self,
        name: str,
        df: DataFrame,
        distribution: str = "random",
        dist_keys: tuple[str, ...] = (),
    ) -> TableDef:
        """CTAS (gram.y CREATE TABLE ... AS SELECT): schema comes from the
        query result; the distribution clause applies to the stored data."""
        if name in self.tables:
            raise ValueError(f"table {name} already exists")
        cols = [
            ColumnDef(f.name, f.dataType.simpleString(), f.dataType.simpleString())
            for f in df.schema.fields
        ]
        td = TableDef(
            name=name, columns=cols, distribution=distribution, dist_keys=tuple(dist_keys)
        )
        self._storage(td).create(df)
        self.tables[name] = td
        return td

    def insert(self, name: str, df: DataFrame) -> None:
        td = self.tables[name]
        st = self._storage(td)
        st.insert(df.select([F.col(c.name).cast(c.spark_type) for c in td.columns]))

    def table(self, name: str) -> DataFrame:
        td = self.tables[name]
        df = self._storage(td).df()
        return F.broadcast(df) if td.distribution == "replicated" else df

    def write_partitioned(self, name: str, df: DataFrame, path: str) -> None:
        """Materialize with the declared PARTITION BY as a hive layout.
        With a declared bound spec, ``__part`` is the DECLARED partition
        name per the bounds (rows outside every bound take the DEFAULT
        partition or raise GP's 'no partition for partitioning key');
        without one, RANGE partitions bucket dates by month (EVERY
        '1 month' is the reference's canonical spec,
        parse_partition.c:1238)."""
        td = self.tables[name]
        if td.partition_kind is None:
            df.write.mode("overwrite").parquet(path)
            return
        from greengage_spark.operators.partitions import partition_name_expr

        levels = td.partition_levels()
        dir_cols: list[str] = []
        for i, (kind, col, bounds) in enumerate(levels):
            dcol = TableDef.level_dir_col(i)
            if bounds:
                part = partition_name_expr(bounds, col).alias(dcol)
            elif kind == "range":
                part = F.date_format(F.col(col), "yyyy-MM").alias(dcol)
            else:
                part = F.col(col).cast("string").alias(dcol)
            df = df.withColumn(dcol, part)
            dir_cols.append(dcol)
        # repartition on the partition value first: one writer task per
        # leaf directory instead of tasks × partitions small files
        # (the classic small-files failure mode at scale).
        df.repartition(*[F.col(c) for c in dir_cols]).write.mode(
            "overwrite"
        ).partitionBy(*dir_cols).parquet(path)
