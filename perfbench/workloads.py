"""Seeded operation streams for the three workloads.

Each generator is pure Python: the same seed gives the same statements and
binds, and the program only ever sees the generated text and parameters.
Operations come in cycles; each cycle is a seeded permutation of every
template (or builder, or mutation kind), so every run has the same mix and
every template is drawn at least once per cycle.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# A subset of ``bench.HEADLINE`` that covers the executor-side layers: Arrow
# kernels (mapInArrow), persisted caches, broadcast and shuffle joins,
# windows, aggregation and top-k.  The order is taken from ``HEADLINE``
# itself, so a name dropped there drops here too.
PIPELINE_BUILDERS = (
    "q3_shipping_priority",
    "agg_groupby_hash",
    "join_broadcast_inner",
    "sort_topk",
    "window_sessionize",
    "dedup_simhash",
    "similarity_topk",
    "pipeline_assemble_e2e",
    "text_decontaminate",
    "text_repetition_stats",
)


@dataclass
class Op:
    kind: str
    sql: str
    params: list
    duck: str | None = None  # DuckDB twin (sql_lookup only)
    rows: list = field(default_factory=list)  # rows an UPSERT writes


def pipeline_cycles(names: list[str], seed: int):
    """Endless seeded permutations of the builder names, one per cycle."""
    rng = random.Random(seed)
    while True:
        perm = list(names)
        rng.shuffle(perm)
        yield perm


# -- sql_lookup ---------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)


def _duck(sql: str, params: list) -> str:
    it = iter(params)
    return "".join(_lit(next(it)) if ch == "?" else ch for ch in sql)


# name -> (Phoenix SQL with ? binds, DuckDB SQL with ? binds)
LOOKUP_TEMPLATES: dict[str, tuple[str, str]] = {
    "pk_point": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey = ?",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey = ?",
    ),
    "pk_range": (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderkey >= ? AND o_orderkey < ? ORDER BY o_orderkey LIMIT 20",
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderkey >= ? AND o_orderkey < ? ORDER BY o_orderkey LIMIT 20",
    ),
    "top_n": (
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_nationkey = ? AND c_mktsegment = ? "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_nationkey = ? AND c_mktsegment = ? "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
    ),
    "group_by": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM lineitem WHERE l_orderkey BETWEEN ? AND ? "
        "GROUP BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM lineitem WHERE l_orderkey BETWEEN ? AND ? "
        "GROUP BY l_returnflag, l_linestatus",
    ),
    "join": (
        "SELECT o.o_orderkey, c.c_name, o.o_totalprice "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderkey BETWEEN ? AND ?",
        "SELECT o.o_orderkey, c.c_name, o.o_totalprice "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderkey BETWEEN ? AND ?",
    ),
    "dialect": (
        "SELECT o_orderkey, TO_CHAR(o_orderdate, 'yyyy-MM-dd') AS d, "
        "o_orderdate + 30 AS due, SUBSTR(o_orderpriority, 1, 1) AS pri, "
        "ROUND(o_totalprice, 0) AS price "
        "FROM orders WHERE o_orderkey = ?",
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d, "
        "o_orderdate + INTERVAL 30 DAY AS due, substr(o_orderpriority, 1, 1) AS pri, "
        "round(o_totalprice, 0) AS price "
        "FROM orders WHERE o_orderkey = ?",
    ),
}


class LookupStream:
    """Fresh binds on every draw; no bound text repeats within a stream."""

    def __init__(self, seed: int, n_orders: int, n_lineitem_orders: int) -> None:
        self.rng = random.Random(seed)
        self.n_orders = n_orders
        self.n_li = n_lineitem_orders
        self.seen: set[str] = set()

    def _binds(self, name: str) -> list:
        r = self.rng
        if name in ("pk_point", "dialect"):
            return [r.randrange(self.n_orders)]
        if name == "pk_range":
            a = r.randrange(self.n_orders - 40)
            return [a, a + 40]
        if name == "top_n":
            return [r.randrange(25), r.choice(SEGMENTS)]
        if name == "group_by":
            a = r.randrange(self.n_li - 200)
            return [a, a + 200]
        if name == "join":
            a = r.randrange(self.n_orders - 5)
            return [a, a + 5]
        raise KeyError(name)

    def cycle(self) -> list[Op]:
        names = list(LOOKUP_TEMPLATES)
        self.rng.shuffle(names)
        ops = []
        for name in names:
            sql, duck = LOOKUP_TEMPLATES[name]
            while True:
                params = self._binds(name)
                key = _duck(sql, params)
                if key not in self.seen:
                    self.seen.add(key)
                    break
            ops.append(Op(name, sql, params, duck=_duck(duck, params)))
        return ops


# -- sql_mutate ---------------------------------------------------------------

MUTATE_DDL = (
    "CREATE TABLE bo (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, "
    "o_totalprice DOUBLE, o_orderstatus VARCHAR, CONSTRAINT pk PRIMARY KEY (o_orderkey))",
    "CREATE INDEX bo_cust ON bo (o_custkey) INCLUDE (o_totalprice)",
    "UPSERT INTO bo SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders",
)
WRITE_KINDS = ("upsert", "on_dup", "delete")
MUTATE_KINDS = (*WRITE_KINDS, "pk_read", "index_read")
# reads are ~20x cheaper than writes and noisier; two per cycle steady their
# medians for little extra time
READS_PER_CYCLE = 2
UPSERT_BATCH = 4
_STATUS = ["F", "O", "P"]


class MutateStream:
    """Mutations and reads against ``bo``, with the model they should leave.

    ``model`` maps each live key to (o_custkey, o_totalprice, o_orderstatus).
    Keys of operations that failed are moved to ``uncertain`` and left out
    of every later comparison: their outcome was never acknowledged.
    """

    def __init__(self, seed: int, model: dict[int, tuple], n_cust: int) -> None:
        self.rng = random.Random(seed)
        self.model = model
        self.n_loaded = len(model)
        self.n_cust = n_cust
        self.written: list[int] = []  # keys this stream wrote, in order
        self.next_new = self.n_loaded + 1_000_000
        self.uncertain: set[int] = set()

    def _key(self) -> int:
        r = self.rng
        x = r.random()
        if x < 0.5 and self.written:
            return r.choice(self.written[-64:])  # overlap earlier writes
        if x < 0.8:
            return r.randrange(self.n_loaded)
        self.next_new += r.randrange(1, 50)
        return self.next_new

    def _row(self, key: int) -> tuple:
        r = self.rng
        price = r.randrange(100_000, 50_000_000) / 100
        return (key, r.randrange(self.n_cust), price, r.choice(_STATUS))

    def _op(self, kind: str) -> Op:
        r = self.rng
        if kind == "upsert":
            keys: list[int] = []
            while len(keys) < UPSERT_BATCH:
                k = self._key()
                if k not in keys:
                    keys.append(k)
            rows = [self._row(k) for k in keys]
            values = ", ".join(["(?, ?, ?, ?)"] * len(rows))
            params = [v for row in rows for v in row]
            return Op(kind, f"UPSERT INTO bo VALUES {values}", params, rows=rows)
        if kind == "on_dup":
            row = self._row(self._key())
            return Op(
                kind,
                "UPSERT INTO bo VALUES (?, ?, ?, ?) "
                "ON DUPLICATE KEY UPDATE o_totalprice = o_totalprice + 1",
                list(row),
                rows=[row],
            )
        if kind == "delete":
            live = [k for k in self.written[-64:] if k in self.model]
            k = r.choice(live) if live and r.random() < 0.5 else r.randrange(self.n_loaded)
            return Op(kind, "DELETE FROM bo WHERE o_orderkey = ?", [k])
        if kind == "pk_read":
            recent = self.written[-64:]
            k = r.choice(recent) if recent and r.random() < 0.7 else r.randrange(self.n_loaded)
            return Op(
                kind,
                "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM bo "
                "WHERE o_orderkey = ?",
                [k],
            )
        if kind == "index_read":
            recent = [self.model[k][0] for k in self.written[-16:] if k in self.model]
            c = r.choice(recent) if recent and r.random() < 0.5 else r.randrange(self.n_cust)
            return Op(kind, "SELECT o_orderkey, o_totalprice FROM bo WHERE o_custkey = ?", [c])
        raise KeyError(kind)

    def cycle(self) -> list[Op]:
        kinds = list(WRITE_KINDS) + ["pk_read", "index_read"] * READS_PER_CYCLE
        self.rng.shuffle(kinds)
        return [self._op(k) for k in kinds]

    # -- model ---------------------------------------------------------------

    def apply(self, op: Op, ok: bool) -> None:
        """Fold an acknowledged write into the model (or mark it unknown)."""
        if op.kind in ("pk_read", "index_read"):
            return
        keys = [row[0] for row in op.rows] if op.rows else [op.params[0]]
        if not ok:
            self.uncertain.update(keys)
            return
        if op.kind == "upsert":
            for k, c, p, s in op.rows:
                self.model[k] = (c, p, s)
        elif op.kind == "on_dup":
            k, c, p, s = op.rows[0]
            if k in self.model:
                oc, op_, os_ = self.model[k]
                self.model[k] = (oc, op_ + 1, os_)
            else:
                self.model[k] = (c, p, s)
        elif op.kind == "delete":
            self.model.pop(keys[0], None)
        self.written.extend(keys)

    def matches(self, op: Op, rows: list[tuple]) -> bool:
        """Whether a read returned what the acknowledged writes imply.

        Keys whose last write failed are dropped from both sides."""
        rows = sorted(r for r in rows if r[0] not in self.uncertain)
        if op.kind == "pk_read":
            k = op.params[0]
            want = [(k, *self.model[k])] if k in self.model and k not in self.uncertain else []
        else:
            c = op.params[0]
            want = sorted(
                (k, v[1]) for k, v in self.model.items() if v[0] == c and k not in self.uncertain
            )
        return rows == want
