"""Seeded operation sequences for the benchmark workloads, and the plain
model of the lakehouse tables that the engine's results are checked
against. Everything here is a pure function of its arguments: the same
seed gives the same sequence."""
import random

KINDS = ("cow", "dv", "mor")
DML = ("insert", "update", "delete", "merge")
# one lakehouse_dml round: these operations on each table kind, in a
# seeded order; every round holds the same mix (writes 4 of 9)
ROUND = ("insert", "update", "delete", "merge", "read", "read", "read", "scan",
         "changes")
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderpriority")
RETAIN = 4          # graft.retain of the benchmark tables
NEW_KEY_BASE = 100_000_000


def olap_order(seed, queries, passes):
    """`passes` back-to-back passes over `queries`, each in its own
    seeded order."""
    rng = random.Random(f"olap:{seed}")
    out = []
    for _ in range(passes):
        p = list(queries)
        rng.shuffle(p)
        out.extend(p)
    return out


def fraud_draw(seed, n=10_000):
    """Seeded order in which scoring cycles draw test rows (offsets taken
    modulo the test split's size)."""
    draw = list(range(n))
    random.Random(f"fraud:{seed}").shuffle(draw)
    return draw


class Table:
    """Plain in-memory model of one lakehouse table: key -> row tuple."""

    def __init__(self, rows):
        self.rows = {r[0]: tuple(r) for r in rows}
        self.dml = 0  # DML statements applied so far

    def keys(self):
        return sorted(self.rows)


def _sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def _values(rows):
    return ", ".join(
        f"({k}, {c}, {_sql_str(st)}, {p!r}, {_sql_str(pr)})"
        for k, c, st, p, pr in rows)


def _changed(rng, live):
    """Rows one statement changes: about 0.1 % of the table, at least 1."""
    return max(1, round(len(live) * rng.uniform(0.0005, 0.0015)))


def lakehouse_ops(seed, seed_rows, n_ops):
    """The seeded statement sequence for lakehouse_dml: rounds of
    `ROUND` on every table kind, each round in its own seeded order.

    `seed_rows` are the rows every table starts with (from `orders`).
    Returns (ops, models): each op is a dict the engine side executes and
    checks; `models` are the tables after all `n_ops` operations. Each op
    depends only on the ops before it, so the models after an executed
    prefix of n ops are those of `lakehouse_ops(seed, seed_rows, n)`."""
    rng = random.Random(f"lakehouse:{seed}")
    models = {k: Table(seed_rows) for k in KINDS}
    history = {k: [] for k in KINDS}  # (dml seq, expected feed counts)
    next_key = NEW_KEY_BASE
    ops = []
    todo = []
    while len(ops) < n_ops:
        if not todo:
            todo = [(k, kind) for k in KINDS for kind in ROUND]
            rng.shuffle(todo)
        # a change-feed read needs an earlier statement on its table
        k, kind = next(((k, kind) for k, kind in todo
                        if kind != "changes" or history[k]), todo[0])
        todo.remove((k, kind))
        m = models[k]
        t = f"bench.default.t_{k}"
        live = m.keys()
        op = {"kind": kind, "table": k}
        if kind == "insert":
            n = _changed(rng, live)
            rows = []
            for _ in range(n):
                rows.append((next_key, rng.randrange(10_000), "N",
                             round(rng.uniform(1000, 500_000), 2),
                             rng.choice(PRIORITIES)))
                next_key += 1
            op["sql"] = f"INSERT INTO {t} VALUES {_values(rows)}"
            for r in rows:
                m.rows[r[0]] = r
            feed = {"0": n}
        elif kind == "update":
            n = _changed(rng, live)
            i = rng.randrange(len(live) - n + 1)
            lo, hi = live[i], live[i + n - 1]
            op["sql"] = (f"UPDATE {t} SET o_totalprice = o_totalprice + 1.5, "
                         f"o_orderstatus = 'U' WHERE o_orderkey BETWEEN {lo} AND {hi}")
            for key in live[i:i + n]:
                r = m.rows[key]
                m.rows[key] = (r[0], r[1], "U", r[3] + 1.5, r[4])
            feed = {"0": n, "2": n} if k != "mor" else {"1": n}
        elif kind == "delete":
            n = _changed(rng, live)
            gone = rng.sample(live, n)
            op["sql"] = (f"DELETE FROM {t} WHERE o_orderkey IN "
                         f"({', '.join(map(str, sorted(gone)))})")
            for key in gone:
                del m.rows[key]
            feed = {"2": n}
        elif kind == "merge":
            n = _changed(rng, live)
            hit = rng.sample(live, n)
            new = list(range(next_key, next_key + max(1, n // 2)))
            next_key += len(new)
            src = [(key, round(rng.uniform(1000, 500_000), 2))
                   for key in sorted(hit) + new]
            vals = ", ".join(f"({key}L, {p!r}D)" for key, p in src)
            op["sql"] = (
                f"MERGE INTO {t} USING (SELECT * FROM VALUES {vals} AS s(k, p)) s "
                f"ON {t}.o_orderkey = s.k "
                "WHEN MATCHED THEN UPDATE SET o_totalprice = s.p, o_orderstatus = 'M' "
                "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, "
                "o_totalprice, o_orderpriority) VALUES (s.k, 0, 'M', s.p, '3-MEDIUM')")
            for key, p in src:
                r = m.rows.get(key)
                m.rows[key] = ((key, r[1], "M", p, r[4]) if r
                               else (key, 0, "M", p, "3-MEDIUM"))
            feed = ({"0": len(src), "2": len(hit)} if k != "mor"
                    else {"1": len(hit), "0": len(new)})
        elif kind == "read":
            span = min(len(live), 20)
            i = rng.randrange(len(live) - span + 1)
            lo, hi = live[i], live[i + span - 1]
            op["sql"] = (f"SELECT o_orderkey, o_totalprice FROM {t} "
                         f"WHERE o_orderkey BETWEEN {lo} AND {hi}")
            sel = [m.rows[key] for key in live[i:i + span]]
            op["expect_rows"] = len(sel)
            op["expect_sum"] = sum(r[3] for r in sel)
        elif kind == "scan":
            op["sql"] = (f"SELECT o_orderpriority, count(*), sum(o_totalprice) "
                         f"FROM {t} GROUP BY o_orderpriority")
            op["expect_rows"] = len(live)
            op["expect_sum"] = sum(r[3] for r in m.rows.values())
        else:  # changes: the feed slice of one recent DML statement
            recent = [h for h in history[k] if h[0] > m.dml - RETAIN // 2]
            seq, feed_exp = rng.choice(recent)
            op["dml_seq"] = seq
            op["expect_feed"] = feed_exp
        if kind in DML:
            m.dml += 1
            op["dml_seq"] = m.dml
            op["rows_changed"] = (len(src) if kind == "merge" else n)
            # A merge-on-read table's change feed serves its delta log;
            # a plain INSERT appends a base file and commits no delta
            # file, so its slice of the feed is empty.
            if k == "mor" and kind == "insert":
                feed = {}
            history[k].append((m.dml, feed))
        ops.append(op)
    return ops, models
