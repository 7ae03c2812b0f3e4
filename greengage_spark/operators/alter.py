"""ALTER TABLE / TRUNCATE statement surface.

Reference: gram.y AlterTableStmt / TruncateStmt; executor
src/backend/commands/tablecmds.c (ATExecAddColumn, ATExecDropColumn,
ATExecColumnDefault, ATPrepAlterColumnType, ExecuteTruncate) and the
Greenplum distribution-policy path (ATExecSetDistributedBy,
src/backend/commands/tablecmds.c; regression
src/test/regress/sql/alter_distribution_policy.sql).

Spark-first mapping — every form that PG/GP implements as a catalog
update stays METADATA-ONLY here (a manifest commit, zero data files
read or written), via WritableTable.evolve's schema-evolution log:

* ADD COLUMN    → log entry; DEFAULT evaluated ONCE at ALTER time (PG11
                  attmissingval fast path) and applied to pre-existing
                  rows at read.  PG's own pre-11 behavior (and GP's) is a
                  full-table rewrite — this is strictly better at scale.
* DROP COLUMN   → log entry; the physical column is pruned by the read
                  schema.  Dropping a distribution-key column forces a
                  random policy (GP NOTICE "dropping a column that is
                  part of the distribution policy forces a NULL
                  distribution policy").
* RENAME COLUMN → log entry; old files are read under the old physical
                  name and renamed in-flight.
* ALTER COLUMN TYPE [USING expr] → log entry; old files cast (optionally
                  through USING) at read.  PG rewrites the table here —
                  metadata-only is again the scale win.
* SET/DROP DEFAULT, SET/DROP NOT NULL → pure TableDef metadata.
* SET DISTRIBUTED BY/RANDOMLY/REPLICATED, SET WITH (REORGANIZE=true)
                  → policy metadata update + one redistribution rewrite
                  (exactly what GP does: movement is the point).
* TRUNCATE      → empty-file-list manifest commit, O(1).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from greengage_spark.dialect.ddl import (
    ColumnDef,
    _parse_column,
    map_pg_type,
)
from greengage_spark.dialect.spans import split_top_level


def execute_truncate(eng, stmt: str) -> None:
    """TRUNCATE [TABLE] name [, ...] [RESTART/CONTINUE IDENTITY]
    [CASCADE|RESTRICT] — FK cascade analysis is moot (constraints are
    accepted-and-ignored, as at CREATE time)."""
    m = re.match(
        r"(?is)^truncate\s+(?:table\s+)?(?:only\s+)?(.+?)"
        r"(?:\s+(?:restart|continue)\s+identity)?(?:\s+(?:cascade|restrict))?$",
        stmt,
    )
    if not m:
        raise NotImplementedError("TRUNCATE [TABLE] name [, ...]")
    names = [n.strip().strip('"') for n in m.group(1).split(",")]
    for name in names:
        if name not in eng.ddl.tables:
            raise ValueError(f"unknown table {name!r}")
    for name in names:
        eng._storage(name).truncate()
        eng._register(name)
    return None


def execute_alter_table(eng, stmt: str) -> None:
    m = re.match(
        r"(?is)^alter\s+table\s+(if\s+exists\s+)?(only\s+)?([\w.\"]+)\s+(.*)$",
        stmt,
    )
    if not m:
        raise NotImplementedError("ALTER TABLE [IF EXISTS] [ONLY] name action")
    if_exists, name, rest = m.group(1), m.group(3).strip('"'), m.group(4)
    if name not in eng.ddl.tables:
        if if_exists:
            return None
        raise ValueError(f"unknown table {name!r}")
    for action in split_top_level(rest):
        _apply_action(eng, name, action.strip())
        # RENAME TO changes the routing key for subsequent actions
        mr = re.match(r"(?is)^rename\s+to\s+([\w.\"]+)$", action.strip())
        if mr:
            name = mr.group(1).strip('"')
    return None


def _apply_action(eng, name: str, action: str) -> None:
    td = eng.ddl.tables[name]
    cols = {c.name.lower(): c for c in td.columns}

    # ---- RENAME TO newname ------------------------------------------
    m = re.match(r"(?is)^rename\s+to\s+([\w.\"]+)$", action)
    if m:
        return _rename_table(eng, name, m.group(1).strip('"'))

    # ---- RENAME [COLUMN] a TO b -------------------------------------
    m = re.match(
        r'(?is)^rename\s+(?:column\s+)?("?\w+"?)\s+to\s+("?\w+"?)$', action
    )
    if m:
        old, new = m.group(1).strip('"'), m.group(2).strip('"')
        if old.lower() not in cols:
            raise ValueError(f'column "{old}" does not exist')
        if new.lower() in cols:
            raise ValueError(f'column "{new}" already exists')
        cd = cols[old.lower()]
        cd.name = new
        if td.dist_keys:
            td.dist_keys = tuple(
                new if k.lower() == old.lower() else k for k in td.dist_keys
            )
        if td.partition_col and td.partition_col.lower() == old.lower():
            td.partition_col = new
        eng._storage(name).evolve(
            {"op": "rename", "from": old, "to": new}, td.schema()
        )
        eng._register(name)
        return None

    # ---- partition maintenance (cdbpartition.c; partition.sql) ------
    if re.match(
        r"(?is)^(add|drop|truncate|split|exchange)\s+(default\s+)?partition\b",
        action,
    ):
        return _partition_maintenance(eng, name, td, action)

    # ---- ADD [COLUMN] [IF NOT EXISTS] col type [...] ----------------
    m = re.match(
        r"(?is)^add\s+(?:column\s+)?(if\s+not\s+exists\s+)?(.+)$", action
    )
    if m and not re.match(
        r"(?is)^(constraint|primary|unique|check|foreign|exclude)\b",
        m.group(2),
    ):
        cd = _parse_column(m.group(2))
        if cd.name.lower() in cols:
            if m.group(1):
                return None
            raise ValueError(f'column "{cd.name}" already exists')
        return _add_column(eng, name, td, cd)

    # ---- ADD/DROP/ALTER CONSTRAINT and friends: accepted + ignored,
    # consistent with CREATE TABLE constraint handling (no indexes) -----
    if re.match(
        r"(?is)^(add|drop|validate)\s+(constraint|primary|unique|check|"
        r"foreign|exclude)\b",
        action,
    ):
        return None

    # ---- DROP [COLUMN] [IF EXISTS] col [RESTRICT|CASCADE] -----------
    m = re.match(
        r'(?is)^drop\s+(?:column\s+)?(if\s+exists\s+)?("?\w+"?)'
        r"(?:\s+(?:restrict|cascade))?$",
        action,
    )
    if m:
        col = m.group(2).strip('"')
        if col.lower() not in cols:
            if m.group(1):
                return None
            raise ValueError(f'column "{col}" does not exist')
        if len(td.columns) == 1:
            raise ValueError("cannot drop the only column of a table")
        if any(k.lower() == col.lower() for k in td.dist_keys):
            # GP: "dropping a column that is part of the distribution
            # policy forces a NULL distribution policy" (NOTICE, not error)
            td.distribution = "random"
            td.dist_keys = ()
        td.columns = [c for c in td.columns if c.name.lower() != col.lower()]
        eng._storage(name).evolve({"op": "drop", "name": col}, td.schema())
        eng._register(name)
        return None

    # ---- ALTER [COLUMN] c TYPE t [USING expr] -----------------------
    m = re.match(
        r'(?is)^alter\s+(?:column\s+)?("?\w+"?)\s+(?:set\s+data\s+)?type\s+'
        r"(.+?)(?:\s+using\s+(.+))?$",
        action,
    )
    if m:
        col = m.group(1).strip('"')
        if col.lower() not in cols:
            raise ValueError(f'column "{col}" does not exist')
        cd = cols[col.lower()]
        cd.pg_type = m.group(2).strip()
        cd.spark_type = map_pg_type(cd.pg_type)
        using = None
        if m.group(3):
            from greengage_spark.dialect.transpiler import transpile

            using = transpile(m.group(3).strip())
        eng._storage(name).evolve(
            {"op": "retype", "name": cd.name, "type": cd.spark_type,
             "using": using},
            td.schema(),
        )
        eng._register(name)
        return None

    # ---- ALTER [COLUMN] c SET/DROP DEFAULT / NOT NULL ---------------
    m = re.match(
        r'(?is)^alter\s+(?:column\s+)?("?\w+"?)\s+'
        r"(set\s+default\s+(.+)|drop\s+default|set\s+not\s+null|"
        r"drop\s+not\s+null)$",
        action,
    )
    if m:
        col = m.group(1).strip('"')
        if col.lower() not in cols:
            raise ValueError(f'column "{col}" does not exist')
        cd = cols[col.lower()]
        sub = m.group(2).lower()
        if sub.startswith("set default"):
            cd.default = m.group(3).strip()
        elif sub == "drop default":
            cd.default = None
        elif sub == "set not null":
            if eng.ddl.table(name).filter(F.col(cd.name).isNull()).head(1):
                raise ValueError(
                    f'column "{cd.name}" contains null values'
                )
            cd.not_null = True
        else:
            cd.not_null = False
        return None

    # ---- SET DISTRIBUTED ... / SET WITH (REORGANIZE=true) -----------
    m = re.match(
        r"(?is)^set\s+(?:with\s*\(([^)]*)\)\s*)?"
        r"(?:distributed\s+(randomly|replicated|by\s*\(([^)]*)\)))?$",
        action,
    )
    if m and (m.group(1) or m.group(2)):
        return _set_distributed(eng, name, td, m.group(2), m.group(3))

    raise NotImplementedError(f"ALTER TABLE action {action!r} not supported")


def _partition_maintenance(eng, name: str, td, action: str) -> None:
    """GP partition maintenance over a bounds-declared table
    (src/backend/cdb/cdbpartition.c; regress partition.sql :81-:331):

    * ADD PARTITION — new bound (overlap-checked); metadata-only.
    * DROP PARTITION — bound removed AND its rows deleted (file-pruned).
    * TRUNCATE PARTITION — rows deleted, bound kept.
    * SPLIT PARTITION ... AT (v) INTO (a, b) — bound split at v;
      metadata-only (rows re-bucket by the new bounds at the next
      partitioned write).
    * EXCHANGE PARTITION ... WITH TABLE u — the partition's rows and u's
      rows swap wholesale; identical column definitions required, and
      incoming rows must satisfy the bound unless WITHOUT VALIDATION.

    Addressing: a name, FOR (value), or FOR (RANK(n)).  Bound mutations
    are session-scoped catalog state, like the rest of DDLCatalog."""
    from greengage_spark.operators.partitions import (
        PartitionBound,
        _overlaps,
        bound_predicate,
        parse_partition_spec,
        resolve_partition,
    )

    if td.partition_col is None:
        raise ValueError(f"table {name!r} is not partitioned")
    bounds = list(td.partition_bounds())
    col_t = td.partition_col_type()
    sel = r"((?:for\s*\(.*?\)|\"?\w+\"?))"

    m = re.match(r"(?is)^add\s+(default\s+)?partition\s+(.*)$", action)
    if m:
        spec = ("DEFAULT PARTITION " if m.group(1) else "PARTITION ") + m.group(2)
        new = parse_partition_spec(f"( {spec} )", col_t)
        for nb in new:
            if nb.is_default and any(b.is_default for b in bounds):
                raise ValueError("table already has a DEFAULT partition")
            if any(b.name.lower() == nb.name.lower() for b in bounds):
                raise ValueError(f'partition "{nb.name}" already exists')
            if nb.values is None and not nb.is_default and any(
                not b.is_default and b.values is None
                and _overlaps(b, nb.lo, nb.hi, nb.lo_incl, nb.hi_incl)
                for b in bounds
            ):
                raise ValueError(
                    f'new partition "{nb.name}" overlaps an existing partition'
                )
        td.set_partition_bounds(bounds + new)
        return None

    m = re.match(
        rf"(?is)^(drop|truncate)\s+partition\s+(if\s+exists\s+)?{sel}\s*"
        r"(?:cascade|restrict)?$",
        action,
    )
    if m:
        op, if_exists = m.group(1).lower(), m.group(2)
        try:
            b = resolve_partition(bounds, m.group(3), col_t)
        except ValueError:
            if if_exists:
                return None
            raise
        st = eng._storage(name)
        st.delete(bound_predicate(b, td.partition_col))
        if op == "drop":
            if sum(1 for x in bounds if not x.is_default) <= 1 and not b.is_default:
                raise ValueError("cannot drop the only partition")
            td.set_partition_bounds([x for x in bounds if x is not b])
        eng._register(name)
        return None

    m = re.match(
        rf"(?is)^split\s+partition\s+{sel}\s+at\s*\((.*?)\)\s*"
        r"(?:into\s*\(\s*partition\s+(\w+)\s*,\s*partition\s+(\w+)\s*\))?$",
        action,
    )
    if m:
        from greengage_spark.operators.partitions import _parse_value

        b = resolve_partition(bounds, m.group(1), col_t)
        if b.values is not None or b.is_default:
            raise NotImplementedError(
                "SPLIT supports range partitions (AT value) only"
            )
        v = _parse_value(m.group(2), col_t)
        in_lo = b.lo is None or v > b.lo
        in_hi = b.hi is None or v < b.hi
        if not (in_lo and in_hi):
            raise ValueError("AT value must fall inside the partition")
        lo_name = m.group(3) or f"{b.name}_1"
        hi_name = m.group(4) or f"{b.name}_2"
        idx = bounds.index(b)
        bounds[idx : idx + 1] = [
            PartitionBound(
                name=lo_name, lo=b.lo, hi=v, lo_incl=b.lo_incl, hi_incl=False
            ),
            PartitionBound(
                name=hi_name, lo=v, hi=b.hi, lo_incl=True, hi_incl=b.hi_incl
            ),
        ]
        td.set_partition_bounds(bounds)
        return None

    m = re.match(
        rf"(?is)^exchange\s+partition\s+{sel}\s+with\s+table\s+([\w.]+)"
        r"(\s+without\s+validation)?(\s+with\s+validation)?$",
        action,
    )
    if m:
        b = resolve_partition(bounds, m.group(1), col_t)
        other = m.group(2)
        if other not in eng.ddl.tables:
            raise ValueError(f"unknown table {other!r}")
        otd = eng.ddl.tables[other]
        if [(c.name.lower(), c.spark_type) for c in td.columns] != [
            (c.name.lower(), c.spark_type) for c in otd.columns
        ]:
            raise ValueError(
                f'tables "{name}" and "{other}" have different column '
                f"definitions"
            )
        pred = bound_predicate(b, td.partition_col)
        st, ost = eng._storage(name), eng._storage(other)
        incoming = ost.df()
        outgoing = st.df().filter(pred)
        if not m.group(3) and not b.is_default:
            # WITH VALIDATION (the default): incoming rows must satisfy
            # the partition bound (cdbpartition.c validation scan)
            import pyspark.sql.functions as _F

            bad = incoming.filter(~_F.coalesce(pred, _F.lit(False))).head(1)
            if bad:
                raise ValueError(
                    f'row does not satisfy partition bound of "{b.name}" '
                    f"(use WITHOUT VALIDATION to skip the check)"
                )
        # COW manifests never delete old files, so the lazy frames above
        # stay valid across the commits below
        st.delete(pred)
        st.insert(incoming)
        ost.replace(outgoing)
        eng._register(name)
        eng._register(other)
        return None

    raise NotImplementedError(f"partition maintenance action {action!r}")


def _add_column(eng, name: str, td, cd: ColumnDef) -> None:
    st = eng._storage(name)
    value = None
    if cd.default is not None:
        from greengage_spark.dialect.transpiler import transpile

        # evaluate the DEFAULT once on the driver (attmissingval — PG11
        # fast-path ADD COLUMN): pre-existing rows read this literal
        row = eng.spark.sql(
            f"SELECT CAST(({transpile(cd.default)}) AS {cd.spark_type}) AS v"
        ).collect()[0]
        value = row["v"]
        if value is not None and not isinstance(
            value, (bool, int, float, str)
        ):
            value = str(value)
    if cd.not_null and value is None and eng.ddl.table(name).head(1):
        # PG ATExecAddColumn: NOT NULL with NULL backfill fails the
        # constraint scan on a non-empty table
        raise ValueError(
            f'column "{cd.name}" of relation "{name}" contains null values'
        )
    td.columns.append(cd)
    st.evolve(
        {"op": "add", "name": cd.name, "type": cd.spark_type, "value": value},
        td.schema(),
    )
    eng._register(name)
    return None


def _rename_table(eng, name: str, new: str) -> None:
    import os

    if getattr(eng, "_txn", None) is not None:
        raise NotImplementedError(
            "ALTER TABLE ... RENAME TO inside a transaction is not "
            "supported (directory moves are not rollback-safe)"
        )
    if new in eng.ddl.tables or new in eng.views:
        raise ValueError(f"relation {new!r} already exists")
    td = eng.ddl.tables.pop(name)
    td.name = new
    eng.ddl.tables[new] = td
    old_root = f"{eng.ddl.root}/{name}"
    if os.path.isdir(old_root):
        new_root = f"{eng.ddl.root}/{new}"
        # manifests hold absolute file paths — rewrite them for the move
        os.rename(old_root, new_root)
        for f in os.listdir(new_root):
            if f.startswith("v") and f.endswith(".json"):
                p = os.path.join(new_root, f)
                with open(p) as fh:
                    txt = fh.read()
                with open(p, "w") as fh:
                    fh.write(txt.replace(old_root + "/", new_root + "/"))
    eng.spark.catalog.dropTempView(name)
    eng._register(new)
    return None


def _set_distributed(eng, name: str, td, kind: str | None, keys: str | None):
    """GP ATExecSetDistributedBy: update the policy, then redistribute —
    one read + one policy-partitioned segment write (the data movement IS
    the operation; GP does the same motion)."""
    if kind:
        k = kind.lower()
        if k == "randomly":
            td.distribution, td.dist_keys = "random", ()
        elif k == "replicated":
            td.distribution, td.dist_keys = "replicated", ()
        else:
            td.distribution = "hash"
            td.dist_keys = tuple(
                c.strip().strip('"') for c in split_top_level(keys or "")
            )
    st_new = eng.ddl._storage(td)  # picks up the new dist keys
    st_new.replace(st_new.df())
    eng._register(name)
    return None
