"""Roles, privileges, comments, schemas, resource queues — the pg_dump
preamble surface.

Every dump and most reference regress scripts open with CREATE ROLE /
GRANT / COMMENT ON / CREATE SCHEMA / CREATE RESOURCE QUEUE statements
(gram.y CreateRoleStmt / GrantStmt / CommentStmt / CreateSchemaStmt;
commands/user.c, catalog/aclchk.c, commands/comment.c, commands/
schemacmds.c; cdb/cdbresqueue.c for queues).  Spark has no user model —
access control lives outside the engine (table ACLs belong to the lake /
catalog service at deployment) — so these execute as RECORDED metadata:
parsed, validated, stored in the engine catalog, introspectable via
``pg_roles`` / ``pg_shdescription``-style views, but enforcing nothing.
Recording (not silently dropping) keeps round-trips honest: a dump
restored through the engine can be dumped back out with its roles,
grants, and comments intact.

Out of scope, rejected loudly: ALTER DEFAULT PRIVILEGES and SECURITY
LABEL (no consumer could observe them here).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class Role:
    name: str
    options: str = ""
    member_of: set[str] = field(default_factory=set)


class AclCatalog:
    """Recorded role/grant/comment/schema/queue metadata."""

    def __init__(self) -> None:
        self.roles: dict[str, Role] = {}
        # grants[(object, grantee)] = set of privilege keywords
        self.grants: dict[tuple[str, str], set[str]] = {}
        self.comments: dict[tuple[str, str], str] = {}
        self.schemas: set[str] = {"public"}
        self.queues: dict[str, str] = {}
        self.resource_groups: dict[str, str] = {}
        self.owners: dict[str, str] = {}
        # extension/language/database/tablespace names (recorded no-ops)
        self.recorded: dict[str, set[str]] = {}

    # ---------------- roles ----------------

    def create_role(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^create\s+(role|user|group)\s+(\"?[\w$]+\"?)\s*(.*)$", stmt
        )
        if not m:
            raise NotImplementedError("CREATE ROLE|USER|GROUP name [options]")
        name = m.group(2).strip('"')
        if name in self.roles:
            raise ValueError(f"role {name!r} already exists")
        opts = m.group(3).strip()
        # USER implies LOGIN, GROUP implies NOLOGIN (user.c)
        if m.group(1).lower() == "user" and "login" not in opts.lower():
            opts = (opts + " LOGIN").strip()
        self.roles[name] = Role(name, opts)

    def alter_role(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^alter\s+(role|user|group)\s+(\"?[\w$]+\"?)\s+(.*)$", stmt
        )
        if not m:
            raise NotImplementedError("ALTER ROLE|USER|GROUP name options")
        name = m.group(2).strip('"')
        rest = m.group(3).strip()
        if name not in self.roles:
            raise ValueError(f"unknown role {name!r}")
        mr = re.match(r"(?is)^rename\s+to\s+(\"?[\w$]+\"?)$", rest)
        if mr:
            new = mr.group(1).strip('"')
            self.roles[new] = self.roles.pop(name)
            self.roles[new].name = new
            return
        # GROUP g ADD/DROP USER u (gram.y AlterGroupStmt)
        mg = re.match(r"(?is)^(add|drop)\s+user\s+(.*)$", rest)
        if mg:
            for u in [x.strip().strip('"') for x in mg.group(2).split(",")]:
                if u not in self.roles:
                    raise ValueError(f"unknown role {u!r}")
                if mg.group(1).lower() == "add":
                    self.roles[u].member_of.add(name)
                else:
                    self.roles[u].member_of.discard(name)
            return
        self.roles[name].options = (self.roles[name].options + " " + rest).strip()

    def drop_role(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^drop\s+(role|user|group)\s+(if\s+exists\s+)?(.+)$", stmt
        )
        if not m:
            raise NotImplementedError("DROP ROLE|USER|GROUP [IF EXISTS] name[, ...]")
        for name in [x.strip().strip('"') for x in m.group(3).split(",")]:
            if name not in self.roles:
                if m.group(2):
                    continue
                raise ValueError(f"unknown role {name!r}")
            del self.roles[name]

    # ---------------- grants ----------------

    _PRIVS = {
        "select", "insert", "update", "delete", "truncate", "references",
        "trigger", "usage", "create", "connect", "temporary", "temp",
        "execute", "all",
    }

    def grant(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^grant\s+(.*?)\s+on\s+(?:table\s+|schema\s+|sequence\s+|"
            r"function\s+|database\s+)?(.+?)\s+to\s+(.+?)"
            r"(\s+with\s+grant\s+option)?$",
            stmt,
        )
        if m:
            privs = {
                p.strip().lower()
                for p in re.sub(r"(?is)\bprivileges\b", "", m.group(1)).split(",")
            }
            privs = {("all" if p.startswith("all") else p) for p in privs if p}
            unknown = privs - self._PRIVS
            if unknown:
                raise ValueError(f"unknown privilege(s) {sorted(unknown)}")
            objs = [o.strip().strip('"') for o in m.group(2).split(",")]
            grantees = [g.strip().strip('"').lower() for g in m.group(3).split(",")]
            for o in objs:
                for g in grantees:
                    self.grants.setdefault((o, g), set()).update(privs)
            return
        # GRANT role TO role (role membership form)
        mm = re.match(r"(?is)^grant\s+([\w$\", ]+?)\s+to\s+(.+)$", stmt)
        if mm:
            granted = [x.strip().strip('"') for x in mm.group(1).split(",")]
            grantees = [x.strip().strip('"') for x in mm.group(2).split(",")]
            for g in grantees:
                if g not in self.roles:
                    raise ValueError(f"unknown role {g!r}")
                self.roles[g].member_of.update(granted)
            return
        raise NotImplementedError("GRANT privs ON obj TO role | GRANT role TO role")

    def revoke(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^revoke\s+(grant\s+option\s+for\s+)?(.*?)\s+on\s+"
            r"(?:table\s+|schema\s+|sequence\s+|function\s+|database\s+)?"
            r"(.+?)\s+from\s+(.+?)(\s+cascade|\s+restrict)?$",
            stmt,
        )
        if m:
            privs = {
                p.strip().lower()
                for p in re.sub(r"(?is)\bprivileges\b", "", m.group(2)).split(",")
                if p.strip()
            }
            objs = [o.strip().strip('"') for o in m.group(3).split(",")]
            grantees = [g.strip().strip('"').lower() for g in m.group(4).split(",")]
            for o in objs:
                for g in grantees:
                    cur = self.grants.get((o, g))
                    if cur is None:
                        continue
                    if "all" in privs or privs >= cur:
                        self.grants.pop((o, g))
                    else:
                        cur -= privs
            return
        mm = re.match(r"(?is)^revoke\s+([\w$\", ]+?)\s+from\s+(.+)$", stmt)
        if mm:
            revoked = [x.strip().strip('"') for x in mm.group(1).split(",")]
            for g in [x.strip().strip('"') for x in mm.group(2).split(",")]:
                if g in self.roles:
                    self.roles[g].member_of.difference_update(revoked)
            return
        raise NotImplementedError("REVOKE privs ON obj FROM role")

    # ---------------- comments ----------------

    def comment(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^comment\s+on\s+(table|column|view|schema|function|"
            r"aggregate|sequence|index|database|role|domain|type|"
            r"extension|language|materialized\s+view)\s+([\w.\"]+)"
            r"(?:\s*\([^)]*\))?\s+is\s+(null|'(?:[^']|'')*')$",
            stmt,
        )
        if not m:
            raise NotImplementedError("COMMENT ON <type> <name> IS 'text'|NULL")
        key = (m.group(1).lower(), m.group(2).strip('"'))
        if m.group(3).lower() == "null":
            self.comments.pop(key, None)
        else:
            self.comments[key] = m.group(3)[1:-1].replace("''", "'")

    # ---------------- schemas ----------------

    def create_schema(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^create\s+schema\s+(if\s+not\s+exists\s+)?(\"?[\w$]+\"?)"
            r"(\s+authorization\s+(\"?[\w$]+\"?))?\s*$",
            stmt,
        )
        if not m:
            raise NotImplementedError(
                "CREATE SCHEMA [IF NOT EXISTS] name [AUTHORIZATION role] "
                "(schema-element subcommands unsupported)"
            )
        name = m.group(2).strip('"')
        if name in self.schemas:
            if m.group(1):
                return
            raise ValueError(f"schema {name!r} already exists")
        self.schemas.add(name)
        if m.group(4):
            self.owners[f"schema:{name}"] = m.group(4).strip('"')

    def drop_schema(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^drop\s+schema\s+(if\s+exists\s+)?(\"?[\w$]+\"?)"
            r"(\s+cascade|\s+restrict)?\s*$",
            stmt,
        )
        if not m:
            raise NotImplementedError("DROP SCHEMA [IF EXISTS] name [CASCADE]")
        name = m.group(2).strip('"')
        if name not in self.schemas:
            if m.group(1):
                return
            raise ValueError(f"unknown schema {name!r}")
        if name == "public":
            raise ValueError("cannot drop schema public")
        self.schemas.discard(name)

    def alter_schema(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^alter\s+schema\s+(\"?[\w$]+\"?)\s+"
            r"(?:rename\s+to\s+(\"?[\w$]+\"?)|owner\s+to\s+(\"?[\w$]+\"?))\s*$",
            stmt,
        )
        if not m:
            raise NotImplementedError("ALTER SCHEMA name RENAME TO x | OWNER TO r")
        name = m.group(1).strip('"')
        if name not in self.schemas:
            raise ValueError(f"unknown schema {name!r}")
        if m.group(2):
            new = m.group(2).strip('"')
            self.schemas.discard(name)
            self.schemas.add(new)
            if f"schema:{name}" in self.owners:
                self.owners[f"schema:{new}"] = self.owners.pop(f"schema:{name}")
        else:
            self.owners[f"schema:{name}"] = m.group(3).strip('"')

    # ---------------- resource queues / groups ----------------

    def resource_stmt(self, stmt: str) -> None:
        m = re.match(
            r"(?is)^(create|alter|drop)\s+resource\s+(queue|group)\s+"
            r"(\"?[\w$]+\"?)\s*(.*)$",
            stmt,
        )
        if not m:
            raise NotImplementedError("CREATE|ALTER|DROP RESOURCE QUEUE|GROUP name")
        verb, kind = m.group(1).lower(), m.group(2).lower()
        name = m.group(3).strip('"')
        store = self.queues if kind == "queue" else self.resource_groups
        if verb == "create":
            if name in store:
                raise ValueError(f"resource {kind} {name!r} already exists")
            store[name] = m.group(4).strip()
        elif verb == "alter":
            if name not in store:
                raise ValueError(f"unknown resource {kind} {name!r}")
            store[name] = (store[name] + " " + m.group(4).strip()).strip()
        else:
            if name not in store:
                raise ValueError(f"unknown resource {kind} {name!r}")
            del store[name]

    # ---------------- ownership ----------------

    def set_owner(self, obj: str, role: str) -> None:
        self.owners[obj] = role
