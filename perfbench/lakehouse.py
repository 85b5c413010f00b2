"""The lakehouse workload's seeded operation stream and its DuckDB replay.

One round is a fixed multiset of operations in a seeded order: every write
kind once, as many reads as writes, and a compaction after the rename
(which the copy-on-write operations need before they run again) and after
every tenth operation. Rounds have the same make-up, so runs with
different seeds do the same kinds of work; the seed sets the order, the
keys and the batch contents. Keys lean toward recently appended ones.

Sizes, against the fixture's 150,000 orders and 600,000 lineitem rows:

* A batch is one TPC-H refresh: RF1 inserts and RF2 deletes SF x 1500
  orders, 150 orders at sf0.1 (0.1 % of the table), with the fixture's
  four lines per order, so 600 rows. append and branch add 150 new orders;
  the deletes (API, merge-on-read and SQL) remove 150 orders.
* merge, SQL MERGE and upsert_mor batches are 600 rows of which three
  quarters already exist: `Relational.dedupAppend` (q_dedup_append)
  re-loads a batch whose rows are 3/4 in the fact table.
* update_keys and SQL UPDATE change 150 orders, the refresh size; TPC-H
  has no update refresh to take it from.
* Reads: point_lookup reads one order; sql_select a range of 1500
  orderkeys (1 % of the table); read_agg and read_version the whole
  snapshot; read_changes the latest append. These and the compaction
  cadence (every tenth operation, into the load's 8 files) have no source
  in the repository.

Every write's input is a parquet batch file or a key list, generated here
from the fixture `lineitem`; DuckDB replays the same operations from the
same files, and every read digest and the final snapshot must match.
"""
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WRITES = ["append", "merge", "upsert_mor", "delete_keys", "delete_keys_mor",
          "update_keys", "sql_delete", "sql_update", "sql_merge",
          "set_property", "rename", "branch", "restore"]
READS = (["read_agg"] * 3 + ["point_lookup"] * 3 + ["read_version"] * 3
         + ["read_changes"] * 2 + ["sql_select"] * 2)
COMPACT_EVERY = 10
COMPACT_FILES = 8
ROUNDS = 2
TAX_NAMES = ("l_tax", "l_tax_r")
REFRESH_ORDERS = 150
LINES_PER_ORDER = 4
MATCHED_ORDERS = REFRESH_ORDERS * 3 // 4
LOOKUP_ORDERS = 1
SELECT_KEYS = 1500


def make_plan(seed, fixtures, work):
    """(ops, the l_tax column's name after each op index, user bytes per
    op index). The rename op toggles that column's name. Batch files are
    written under `work`/batches."""
    rnd = random.Random(seed)
    base = pq.read_table(os.path.join(fixtures, "lineitem.parquet"))
    max_key = pc.max(base["l_orderkey"]).as_py()
    base_keys = sorted(set(base["l_orderkey"].to_pylist()))
    os.makedirs(os.path.join(work, "batches"), exist_ok=True)

    next_key = [max_key + 1]
    recent = []                 # orderkeys of recent appends, newest last
    tax_after = {-1: TAX_NAMES[0]}
    ops = []

    def pick_keys(n):
        keys = set()
        while len(keys) < n:
            if recent and rnd.random() < 0.5:
                keys.add(rnd.choice(recent[-2000:]))
            else:
                keys.add(rnd.choice(base_keys))
        return sorted(keys)

    def rows(n, tax):
        idx = [rnd.randrange(base.num_rows) for _ in range(n)]
        t = base.take(pa.array(idx))
        return t.rename_columns([tax if c == "l_tax" else c for c in t.column_names])

    def with_col(t, name, values):
        i = t.column_names.index(name)
        return t.set_column(i, t.schema.field(i), pa.array(values, t.schema.field(i).type))

    def fresh(n_keys, lines, tax):
        """Rows with new orderkeys, `lines` line numbers each."""
        t = rows(n_keys * lines, tax)
        keys = [next_key[0] + i // lines for i in range(n_keys * lines)]
        next_key[0] += n_keys
        recent.extend(sorted(set(keys)))
        t = with_col(t, "l_orderkey", keys)
        return with_col(t, "l_linenumber", [1 + i % lines for i in range(n_keys * lines)])

    okeys = base["l_orderkey"].to_pylist()
    lines = base["l_linenumber"].to_pylist()

    def existing(n, tax):
        """Rows with base (orderkey, linenumber) pairs, no pair twice (the
        fixture repeats some pairs, and a MERGE source may not), with new
        quantities."""
        seen, idx = set(), []
        for j in rnd.sample(range(base.num_rows), 2 * n):
            if (okeys[j], lines[j]) not in seen and len(idx) < n:
                seen.add((okeys[j], lines[j]))
                idx.append(j)
        t = base.take(pa.array(idx))
        t = t.rename_columns([tax if c == "l_tax" else c for c in t.column_names])
        return with_col(t, "l_quantity", [float(rnd.randint(1, 50)) for _ in range(n)])

    def write_batch(i, t):
        path = os.path.join(work, "batches", f"op{i:04d}.parquet")
        pq.write_table(t, path)
        return path

    def ordered_round():
        body = WRITES + READS
        rnd.shuffle(body)
        out = []
        for k, kind in enumerate(body):
            out.append(kind)
            if kind == "rename":
                out.append("compact")
            if (k + 1) % COMPACT_EVERY == 0:
                out.append("compact")
        return out

    def past_target(i, span):
        """A recent earlier op index (or -1, the load) that is not a rename."""
        cands = [j for j in range(max(-1, i - span), i)
                 if j == -1 or ops[j]["kind"] != "rename"]
        return rnd.choice(cands)

    user_bytes = {}
    last_append = -1
    i = 0
    for r in range(ROUNDS):
        for kind in ordered_round():
            tax = tax_after[i - 1]
            op = {"i": i, "round": r, "kind": kind, "tax": tax,
                  "class": "read" if kind in READS else
                  ("maintenance" if kind == "compact" else "write")}
            if kind in ("append", "branch"):
                op["batch"] = write_batch(i, fresh(REFRESH_ORDERS, LINES_PER_ORDER, tax))
                if kind == "branch":
                    op["name"] = f"b{i}"
            elif kind in ("merge", "sql_merge"):
                op["batch"] = write_batch(i, pa.concat_tables(
                    [existing(MATCHED_ORDERS * LINES_PER_ORDER, tax),
                     fresh(REFRESH_ORDERS - MATCHED_ORDERS, LINES_PER_ORDER, tax)]))
            elif kind == "upsert_mor":
                new = REFRESH_ORDERS - MATCHED_ORDERS
                keys = pick_keys(MATCHED_ORDERS) + [next_key[0] + j for j in range(new)]
                next_key[0] += new
                recent.extend(keys[MATCHED_ORDERS:])
                line_nos = [1 + j % LINES_PER_ORDER for j in range(len(keys) * LINES_PER_ORDER)]
                t = rows(len(line_nos), tax)
                t = with_col(t, "l_orderkey", [k for k in keys for _ in range(LINES_PER_ORDER)])
                op["batch"] = write_batch(i, with_col(t, "l_linenumber", line_nos))
            elif kind in ("delete_keys", "delete_keys_mor", "update_keys",
                          "sql_delete", "sql_update"):
                op["keys"] = pick_keys(REFRESH_ORDERS)
            elif kind == "point_lookup":
                op["keys"] = pick_keys(LOOKUP_ORDERS)
            elif kind == "set_property":
                op["key"], op["value"] = f"perfbench.p{i % 4}", f"v{i}"
            elif kind == "rename":
                op["from"] = tax
                op["to"] = TAX_NAMES[1 - TAX_NAMES.index(tax)]
            elif kind == "restore":
                op["target"] = past_target(i, 4)
            elif kind == "read_version":
                op["target"] = past_target(i, 6)
                op["tax"] = tax_after[op["target"]]
            elif kind == "read_changes":
                op["tax"] = ops[last_append]["tax"] if last_append >= 0 else TAX_NAMES[0]
            elif kind == "compact":
                op["files"] = COMPACT_FILES
            elif kind == "sql_select":
                lo = rnd.choice(base_keys)
                op["lo"], op["hi"] = lo, lo + SELECT_KEYS - 1
            if "batch" in op:
                user_bytes[i] = os.path.getsize(op["batch"])
            elif "keys" in op and op["class"] == "write":
                user_bytes[i] = 8 * len(op["keys"])
            if kind == "append":
                last_append = i
            if kind == "rename":
                tax_after[i] = op["to"]
            elif kind == "restore":
                tax_after[i] = tax_after[op["target"]]
            else:
                tax_after[i] = tax
            op["tax_after"] = tax_after[i]
            ops.append(op)
            i += 1
    return ops, tax_after, user_bytes


DIGEST = ("count(*), coalesce(sum(l_orderkey), 0), coalesce(sum(l_linenumber), 0), "
          "coalesce(sum(CAST(round(l_quantity * 100) AS BIGINT)), 0), "
          "coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0), "
          "coalesce(sum(CAST(round({tax} * 100) AS BIGINT)), 0)")


def _digest(con, source, tax, where=""):
    row = con.execute(f"SELECT {DIGEST.format(tax=tax)} FROM {source} {where}").fetchone()
    return [int(v) for v in row]


def replay(fixtures, ops, executed, tax_after):
    """Replays the executed prefix of `ops` in DuckDB and compares each
    read's digest with the replay's. Returns the connection, whose table
    `t` holds the replayed final snapshot, and {op index: failure}.
    `executed` maps op index to the harness's record of that op."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{fixtures}/lineitem.parquet')")
    n = max(executed) + 1 if executed else 0
    needed = {op["target"] for op in ops[:n] if op["kind"] in ("restore", "read_version")}
    digests, snaps = {}, set()

    def remember(i):
        if i in needed:
            con.execute(f"CREATE TABLE s{i + 1} AS SELECT * FROM t")
            snaps.add(i)
            digests[i] = _digest(con, "t", tax_after[i])

    remember(-1)
    last_batch = (f"read_parquet('{fixtures}/lineitem.parquet')", "l_tax")
    failures = {}
    for op in ops[:n]:
        kind, i = op["kind"], op["i"]
        rec = executed.get(i)
        if rec is None or rec.get("error"):
            failures[i] = rec.get("error") if rec else "not executed"
            remember(i)
            continue
        keys = ", ".join(str(k) for k in op.get("keys", []))
        batch = f"read_parquet('{op['batch']}')" if "batch" in op else None
        match = "t.l_orderkey = b.l_orderkey AND t.l_linenumber = b.l_linenumber"
        got = rec.get("digest")
        want = None
        if kind in ("append", "branch"):
            con.execute(f"INSERT INTO t BY NAME SELECT * FROM {batch}")
            if kind == "append":
                last_batch = (batch, op["tax"])
        elif kind == "merge":
            con.execute(f"INSERT INTO t BY NAME SELECT b.* FROM {batch} b "
                        f"WHERE NOT EXISTS (SELECT 1 FROM t WHERE {match})")
        elif kind == "upsert_mor":
            con.execute(f"DELETE FROM t WHERE l_orderkey IN (SELECT l_orderkey FROM {batch})")
            con.execute(f"INSERT INTO t BY NAME SELECT * FROM {batch}")
        elif kind in ("delete_keys", "delete_keys_mor", "sql_delete"):
            con.execute(f"DELETE FROM t WHERE l_orderkey IN ({keys})")
        elif kind == "update_keys":
            con.execute(f"UPDATE t SET l_quantity = l_quantity + 1.0 WHERE l_orderkey IN ({keys})")
        elif kind == "sql_update":
            con.execute("UPDATE t SET l_extendedprice = l_extendedprice + 1.0 "
                        f"WHERE l_orderkey IN ({keys})")
        elif kind == "sql_merge":
            con.execute(f"UPDATE t SET l_quantity = b.l_quantity FROM {batch} b WHERE {match}")
            con.execute(f"INSERT INTO t BY NAME SELECT b.* FROM {batch} b "
                        f"WHERE NOT EXISTS (SELECT 1 FROM t WHERE {match})")
        elif kind == "rename":
            con.execute(f"ALTER TABLE t RENAME COLUMN {op['from']} TO {op['to']}")
        elif kind == "restore":
            con.execute(f"DROP TABLE t; CREATE TABLE t AS SELECT * FROM s{op['target'] + 1}")
        elif kind == "read_agg":
            want = _digest(con, "t", op["tax"])
        elif kind == "point_lookup":
            want = _digest(con, "t", op["tax"], f"WHERE l_orderkey IN ({keys})")
        elif kind == "read_version":
            want = digests[op["target"]]
        elif kind == "read_changes":
            want = _digest(con, last_batch[0], last_batch[1])
        elif kind == "sql_select":
            want = _digest(con, "t", op["tax"], f"WHERE l_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        if want is not None and [int(v) for v in got or []] != want:
            failures[i] = f"{kind} digest {got} != replay {want}"
        remember(i)
    return con, failures


def final_groups(con, tax):
    rows = con.execute(
        f"SELECT l_returnflag, l_linestatus, {DIGEST.format(tax=tax)} FROM t "
        "GROUP BY l_returnflag, l_linestatus").fetchall()
    return sorted([r[0], r[1]] + [int(v) for v in r[2:]] for r in rows)
