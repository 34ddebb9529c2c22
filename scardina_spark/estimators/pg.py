"""Live-Postgres plan-cost harness — the reference's PPC back end.

Reference protocol (scardina/run.py:992-1008 + eval_ppc, run.py:
1011-1127 — protocol, NOT code): export one cardinality prediction per
connected subquery, store the predictions in an external database, have
a LIVE Postgres planner consume them, and score the plan it picks
against the truth-optimal plan.  The reference reaches Postgres through
the CEB harness and a card-injection server; this environment ships
VANILLA PostgreSQL 15 binaries (no pg_hint_plan, no injection patch), so
the harness splits the roles the only way vanilla Postgres allows:

* the repo's DP planner (estimators/perror.py) turns a cardinality set
  into a join ORDER (the decision the injected cards drive), and
* the live Postgres planner COSTS that order with its real cost model —
  the order is forced with ``join_collapse_limit = 1`` + explicit JOIN
  nesting (the standard vanilla-Postgres plan-forcing technique), and
  the cost read back from ``EXPLAIN (FORMAT JSON)``.

The externally observable loop is the reference's: cards go INTO a real
Postgres (a ``ppc_cards`` table written with COPY and read back before
planning — the e10 Derby store swapped for the real thing), a live
planner consumes them, a cost ratio comes out.

Server lifecycle: an embedded instance per machine — ``initdb`` into a
/tmp cache dir (same cache discipline as jobm.shipments_dir), unix
socket only (no TCP, trust auth), started on demand, reused across
sessions.  Postgres refuses to run as root, so when the caller is root
every SERVER command drops to ``nobody`` via setpriv; the psql CLIENT
runs as the caller.  All traffic is psql over the socket — no Python
driver or JDBC jar exists here, and EXPLAIN traffic needs none.

Scale note: only the metadata-sized artifacts ever touch Postgres (the
card store and EXPLAIN text); table loads stream through COPY once per
(machine, sf) and are capped to the benchmark's relational tables.  The
100 TB story is unchanged — estimation runs on Spark; Postgres is the
plan-quality referee, exactly its role in the reference.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile
from dataclasses import dataclass

from ..plans.parse import ParsedQuery, parse_query
from .perror import (bushy_best_plan, plan_space_size, tree_join_sets,
                     _pred_sql)

_PG_BINDIRS = ["/usr/lib/postgresql/15/bin", "/usr/local/bin"]


def _pg_bindir() -> str | None:
    for d in _PG_BINDIRS:
        if os.path.exists(os.path.join(d, "initdb")):
            return d
    p = shutil.which("initdb")
    return os.path.dirname(p) if p else None


def pg_available() -> bool:
    return _pg_bindir() is not None and shutil.which("setpriv") is not None


def _server_user_wrap(args: list[str]) -> list[str]:
    """Postgres server binaries refuse uid 0: drop to nobody when root."""
    if os.geteuid() == 0:
        return ["setpriv", "--reuid=nobody", "--regid=nogroup",
                "--clear-groups", *args]
    return args


@dataclass
class PgServer:
    """One embedded vanilla-Postgres instance on a unix socket."""

    base_dir: str
    bindir: str

    @property
    def data_dir(self) -> str:
        return os.path.join(self.base_dir, "data")

    @property
    def user(self) -> str:
        return "nobody" if os.geteuid() == 0 else os.environ.get(
            "USER", "postgres")

    def _server(self, *args: str, check: bool = True
                ) -> subprocess.CompletedProcess:
        return subprocess.run(
            _server_user_wrap([os.path.join(self.bindir, args[0]),
                               *args[1:]]),
            capture_output=True, text=True, cwd=tempfile.gettempdir(),
            check=check)

    def start(self) -> "PgServer":
        """Idempotent init + start, serialized by an flock so two
        sessions (bench + tests, or two driver entries) racing the
        first initdb cannot corrupt the data dir."""
        import fcntl

        os.makedirs(self.base_dir, exist_ok=True)
        if os.geteuid() == 0:
            shutil.chown(self.base_dir, "nobody", "nogroup")
        with open(os.path.join(self.base_dir, ".lock"), "w") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            if not os.path.exists(os.path.join(self.data_dir,
                                               "PG_VERSION")):
                self._server("initdb", "-D", self.data_dir, "-E", "UTF8",
                             "--no-locale", "-A", "trust")
            if self._server("pg_ctl", "-D", self.data_dir, "status",
                            check=False).returncode != 0:
                self._server(
                    "pg_ctl", "-D", self.data_dir, "-w",
                    "-l", os.path.join(self.base_dir, "log"),
                    "-o", f"-k {self.base_dir} -c listen_addresses=''",
                    "start")
        return self

    def stop(self) -> None:
        self._server("pg_ctl", "-D", self.data_dir, "-m", "fast", "stop",
                     check=False)

    def psql(self, script: str, db: str = "postgres") -> str:
        """Run a psql script (client may be any uid); returns stdout
        (tuples-only, unaligned).  Raises on any SQL error."""
        r = subprocess.run(
            [os.path.join(self.bindir, "psql"), "-h", self.base_dir,
             "-U", self.user, "-d", db, "-qtAX",
             "-v", "ON_ERROR_STOP=1"],
            input=script, capture_output=True, text=True,
            cwd=tempfile.gettempdir())
        if r.returncode != 0:
            raise RuntimeError(f"psql failed: {r.stderr.strip()}")
        return r.stdout

    def ensure_db(self, name: str) -> str:
        have = self.psql(
            f"SELECT 1 FROM pg_database WHERE datname = '{name}'")
        if have.strip() != "1":
            self.psql(f'CREATE DATABASE "{name}"')
        return name


def server_dir(tag: str = "default") -> str:
    return os.path.join(tempfile.gettempdir(), f"scardina_pg_{tag}")


def ensure_server(tag: str = "default") -> PgServer:
    """Start (or reuse) the embedded instance; raises RuntimeError when
    the environment has no usable Postgres binaries."""
    bindir = _pg_bindir()
    if bindir is None or shutil.which("setpriv") is None:
        raise RuntimeError("no PostgreSQL binaries in this environment")
    return PgServer(server_dir(tag), bindir).start()


# --- table loading ---------------------------------------------------------

_DUCK_TO_PG = {
    "BIGINT": "bigint", "INTEGER": "integer", "SMALLINT": "smallint",
    "TINYINT": "smallint", "HUGEINT": "numeric", "DOUBLE":
    "double precision", "FLOAT": "real", "VARCHAR": "text",
    "BOOLEAN": "boolean", "DATE": "date", "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
}


def _pg_type(duck_type: str) -> str:
    t = duck_type.upper()
    if t.startswith("DECIMAL"):
        return t.replace("DECIMAL", "numeric")
    return _DUCK_TO_PG.get(t, "text")


#: ANALYZE samples 300 x (statistics target) rows; PostgreSQL's ceiling
_MAX_STATS_TARGET = 10_000


def _stats_target(n_rows: int) -> int:
    """Per-column statistics target whose ANALYZE sample covers all
    ``n_rows`` rows (never below the server default of 100)."""
    return min(_MAX_STATS_TARGET, max(100, -(-n_rows // 300)))


def load_sf_tables(server: PgServer, sf_dir: str,
                   tables: tuple[str, ...] = (
                       "region", "nation", "customer", "supplier",
                       "part", "orders", "lineitem")) -> str:
    """COPY the relational parquet tables for ``sf_dir`` into a per-sf
    database (DuckDB streams parquet -> CSV; psql \\copy loads it).  A
    table whose row count already matches the parquet is not reloaded,
    so per (machine, sf) the COPY happens once.

    Each table's planner statistics are pinned: autovacuum is off (no
    background ANALYZE redraws them), and each column gets a statistics
    target whose sample covers the whole table (up to 3M rows), which
    makes ANALYZE deterministic.  ANALYZE runs only after a (re)load or
    when a column's target differs from that one; otherwise the stored
    statistics are kept, so the native baseline reads the same ones on
    every run, at any table size."""
    import hashlib

    import duckdb

    db = "sf_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    server.ensure_db(db)
    con = duckdb.connect()
    csv_dir = os.path.join(server.base_dir, f"csv_{db}")
    os.makedirs(csv_dir, exist_ok=True)
    for t in tables:
        pq_path = os.path.join(sf_dir, f"{t}.parquet")
        n = con.sql(f"SELECT count(*) FROM '{pq_path}'").fetchone()[0]
        desc = con.sql(f"DESCRIBE SELECT * FROM '{pq_path}'").fetchall()
        have = server.psql(
            f"SELECT reltuples::bigint FROM pg_class "
            f"WHERE relname = '{t}'", db).strip()
        if have and server.psql(f"SELECT count(*) FROM {t}",
                                db).strip() != str(n):
            server.psql(f"DROP TABLE {t}", db)
            have = ""
        if not have:
            cols = ", ".join(f'"{name}" {_pg_type(typ)}'
                             for name, typ, *_ in desc)
            csv = os.path.join(csv_dir, f"{t}.csv")
            con.sql(f"COPY (SELECT * FROM '{pq_path}') TO '{csv}' "
                    f"(FORMAT CSV, HEADER)")
            server.psql(f"CREATE TABLE {t} ({cols}) "
                        f"WITH (autovacuum_enabled = false);\n"
                        f"\\copy {t} from '{csv}' (format csv, header)",
                        db)
            os.remove(csv)
        target = _stats_target(n)
        script = f"ALTER TABLE {t} SET (autovacuum_enabled = false);"
        if not have or server.psql(
                f"SELECT count(*) FROM pg_attribute "
                f"WHERE attrelid = '{t}'::regclass AND attnum > 0 "
                f"AND NOT attisdropped "
                f"AND coalesce(attstattarget, -1) <> {target}",
                db).strip() != "0":
            stats = ", ".join(
                f'ALTER COLUMN "{name}" SET STATISTICS {target}'
                for name, *_ in desc)
            # one transaction: a target on record means ANALYZE ran with it
            script += (f"\nBEGIN;\nALTER TABLE {t} {stats};\n"
                       f"ANALYZE {t};\nCOMMIT;")
        server.psql(script, db)
    return db


# --- card store (the e10 Derby store against the real thing) --------------

def store_cards(server: PgServer, db: str, rows: list[dict],
                table: str = "ppc_cards") -> dict[str, int]:
    """Write per-node cards into Postgres and read them back — the
    reference's store-then-consume step (run.py:992-1008) against a live
    server.  Returns node -> card as the planner will see them."""
    if not rows:
        raise ValueError("no cards to store (empty artifact?)")
    vals = ",\n".join(
        "({}, '{}', {})".format(i, r["node"].replace("'", "''"),
                                int(r["card"]))
        for i, r in enumerate(rows))
    server.psql(
        f"DROP TABLE IF EXISTS {table};\n"
        f"CREATE TABLE {table} (card_id int, node text, card bigint);\n"
        f"INSERT INTO {table} VALUES {vals};", db)
    back = server.psql(f"SELECT node, card FROM {table} ORDER BY card_id",
                       db)
    out: dict[str, int] = {}
    for line in back.strip().splitlines():
        node, card = line.rsplit("|", 1)
        out[node] = int(card)
    return out


# --- plan forcing + costing ------------------------------------------------

def forced_join_sql_tree(pq: ParsedQuery, tree) -> str:
    """COUNT(*) SQL whose JOIN nesting mirrors an arbitrary BUSHY plan
    tree (str leaf | (left, right) node): under ``join_collapse_limit
    = 1`` Postgres keeps the written association, so the planner costs
    exactly this tree's shape — left-deep, zig-zag, or bushy — while
    scan/join methods and build/probe sides stay free."""
    # dedup by the full COLUMN pair, not the alias pair: a composite-key
    # join carries two predicates between the same two aliases, and both
    # must survive into the forced SQL (each predicate's aliases land on
    # opposite sides at exactly one tree node, its lowest common
    # ancestor, so the set only guards duplicated predicate rows)
    used: set[tuple[str, str]] = set()

    def emit(node) -> tuple[str, frozenset]:
        if isinstance(node, str):
            return f"{pq.tables[node]} {node}", frozenset([node])
        lsql, lset = emit(node[0])
        rsql, rset = emit(node[1])
        conds = []
        for a, b in pq.joins:
            aa, bb = a.split(".", 1)[0], b.split(".", 1)[0]
            if (a, b) in used or (b, a) in used:
                continue
            if ((aa in lset and bb in rset)
                    or (aa in rset and bb in lset)):
                conds.append(f"{a} = {b}")
                used.add((a, b))
        on = " AND ".join(conds) if conds else "TRUE"
        return f"({lsql} JOIN {rsql} ON {on})", lset | rset

    sql, _ = emit(tree)
    filters = [_pred_sql(p) for p in pq.filters]
    where = f" WHERE {' AND '.join(filters)}" if filters else ""
    return f"SELECT COUNT(*) FROM {sql}{where}"


def explain_cost(server: PgServer, db: str, sql: str,
                 force_order: bool = False,
                 extra_set: str = ""
                 ) -> tuple[float, list[frozenset]]:
    """Total plan cost + the join-tree structure: one leaf-alias set per
    join node (every node with >1 input).  ``join_collapse_limit = 1``
    pins the ASSOCIATION of the written JOIN nesting — a left-deep force
    therefore shows up as nested prefix sets — while Postgres stays free
    to commute build/probe sides and pick join methods (the degrees of
    freedom the reference's harness leaves free too: injected cards
    decide the order, the cost model decides the rest)."""
    prefix = ("SET join_collapse_limit = 1; SET from_collapse_limit = 1; "
              if force_order else "")
    out = server.psql(f"{extra_set}{prefix}EXPLAIN (FORMAT JSON) {sql};",
                      db)
    start = out.index("[")
    plan = json.loads(out[start:])[0]["Plan"]

    join_sets: list[frozenset] = []

    def walk(node: dict) -> frozenset:
        kids = node.get("Plans", [])
        if not kids:
            return frozenset([node["Alias"]] if "Alias" in node else [])
        leaves = frozenset().union(*(walk(k) for k in kids))
        if len(kids) > 1:
            join_sets.append(leaves)
        return leaves

    walk(plan)
    return float(plan["Total Cost"]), join_sets


def order_respected(order: tuple[str, ...],
                    join_sets: list[frozenset]) -> bool:
    """True when the plan's join nodes are exactly the left-deep prefix
    sets of ``order`` (sides/methods free, association pinned)."""
    want = {frozenset(order[:k]) for k in range(2, len(order) + 1)}
    return set(join_sets) == want


def tree_respected(tree, join_sets: list[frozenset]) -> bool:
    """True when the live plan's join nodes are exactly the forced
    tree's internal-node alias sets — the STRUCTURAL check that
    ``join_collapse_limit = 1`` really pinned a bushy association, not
    just some order (a left-deep force shows prefix sets; a bushy force
    shows two disjoint multi-alias subtrees)."""
    return set(join_sets) == set(tree_join_sets(tree))


def row_estimates(server: PgServer, db: str, sqls: list[str],
                  batch: int = 50) -> list[float]:
    """Postgres's OWN cardinality estimate for each ``COUNT(*)`` query:
    the planner's ``Plan Rows`` on the join node feeding the final
    aggregate — the "PostgreSQL as estimator" baseline of Leis et al.
    (VLDB 2015) against which learned estimators are judged.  Batched
    (``batch`` EXPLAINs per psql round-trip, sentinel-separated), so
    the whole 746-subquery artifact costs ~15 round trips."""
    out: list[float] = []
    for i in range(0, len(sqls), batch):
        chunk = sqls[i:i + batch]
        script = "\nSELECT '--SPLIT--';\n".join(
            f"EXPLAIN (FORMAT JSON) {s};" for s in chunk)
        raw = server.psql(script, db)
        parts = [p for p in raw.split("--SPLIT--") if p.strip()]
        if len(parts) != len(chunk):
            raise RuntimeError(
                f"expected {len(chunk)} plans, got {len(parts)}")
        for p in parts:
            plan = json.loads(p[p.index("["):])[0]["Plan"]
            # descend through the aggregate/gather scaffolding to the
            # node that produces the joined rows
            while (plan.get("Plans")
                   and ("Aggregate" in plan["Node Type"]
                        or plan["Node Type"] == "Gather")):
                plan = plan["Plans"][0]
            out.append(float(plan["Plan Rows"]))
    return out


#: Join-method families the sensitivity pass disables one at a time:
#: the forcing pins the join TREE while methods stay free, so re-costing
#: the same est/true trees under a disabled method family shows whether
#: p-error ≈ 1 is robust to method costing or an artifact of one regime.
METHOD_REGIMES = {
    "nohashjoin": "SET enable_hashjoin = off; ",
    "nomergejoin": "SET enable_mergejoin = off; ",
}


def pg_plan_error(server: PgServer, db: str, query: ParsedQuery | str,
                  est_cards: dict[frozenset, float],
                  true_cards: dict[frozenset, float],
                  method_sensitivity: bool = False) -> dict:
    """The PPC ratio with a live costing back end: DP-choose the join
    TREE over the full bushy plan space under estimated vs true cards
    (C_out — the decision step the reference injects cards into), force
    BOTH trees in Postgres via explicit JOIN nesting, and return
    ``pe_pg`` = forced-cost(est tree) / forced-cost(true tree) plus the
    trees, the plan-space size, and whether the forcing was
    structurally respected (EXPLAIN join nodes == the tree's internal
    alias sets)."""
    pq = parse_query(query) if isinstance(query, str) else query
    tree_est, _ = bushy_best_plan(pq, est_cards)
    tree_true, _ = bushy_best_plan(pq, true_cards)
    cost_est, js_est = explain_cost(
        server, db, forced_join_sql_tree(pq, tree_est), force_order=True)
    cost_true, js_true = explain_cost(
        server, db, forced_join_sql_tree(pq, tree_true), force_order=True)
    native_cost, _ = explain_cost(
        server, db, forced_join_sql_tree(pq, tree_true), force_order=False)
    sens = {}
    if method_sensitivity:
        # same trees, planner restricted to a subset of join methods:
        # est/true costs move together iff the p-error is method-robust
        for tag, setting in METHOD_REGIMES.items():
            ce, _ = explain_cost(server, db,
                                 forced_join_sql_tree(pq, tree_est),
                                 force_order=True, extra_set=setting)
            ct, _ = explain_cost(server, db,
                                 forced_join_sql_tree(pq, tree_true),
                                 force_order=True, extra_set=setting)
            sens[f"pe_pg_{tag}"] = ce / max(ct, 1e-12)
    return {
        **sens,
        "pe_pg": cost_est / max(cost_true, 1e-12),
        "order_est": tree_est,
        "order_true": tree_true,
        "order_respected": (tree_respected(tree_est, js_est)
                            and tree_respected(tree_true, js_true)),
        "cost_est": cost_est,
        "cost_true": cost_true,
        "n_plans": plan_space_size(pq),
        # the free planner saw the forced order too: its pick can only
        # be cheaper under its own model
        "native_le_forced": native_cost <= cost_true * (1 + 1e-9),
    }
