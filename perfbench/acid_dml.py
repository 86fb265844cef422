"""The ``acid_dml`` workload: a seeded statement stream through
``TxnSessionManager.handle``, the writer's path.

Three enrolled tables share one manager, one writeid ledger and one
``HiveAcidInitiator`` with Hive's default thresholds:

  h_orders   hive-ACID, unpartitioned
  hp_orders  hive-ACID, partitioned by o_orderstatus
  c_orders   copy-on-write TransactionCatalog table

A round is a fixed sequence of units: autocommit INSERT / UPDATE /
DELETE / MERGE / INSERT OVERWRITE on the table kinds that accept them,
BEGIN … COMMIT blocks, a second session that provokes a lock refusal
(then rolls back) and a first-committer-wins abort, an ALTER TABLE …
COMPACT request with a ``run_once`` pass, and snapshot reads of every
table. The seed draws the statement parameters.

After the timed loop every snapshot read and the final state of each
table is compared with a DuckDB replay of the committed transactions
only. An unexpected reply, an exception or a mismatch counts the op
as failed; the loop never stops on one.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import stats
from perfbench.registry_ops import files_written_since

H, HP, C = "h_orders", "hp_orders", "c_orders"
SRC = "perfbench_orders_src"
ACID_TABLES = (H, HP)
H_SCHEMA = [("o_orderkey", "long"), ("o_orderstatus", "string"),
            ("o_totalprice", "double")]
HP_SCHEMA = [("o_orderkey", "long"), ("o_totalprice", "double")]
PART_COL = "o_orderstatus"
SESSION, OTHER = "s1", "s2"
# write verbs reported per verb in the traced run
VERBS = ("INSERT", "UPDATE", "DELETE", "MERGE", "IOW", "COMMIT", "ROLLBACK",
         "COMPACT")
SEED_PRED = "o_orderkey % 2 = 0"
# one bucket file per ACID directory: at this input size more buckets
# only multiply tiny files and tasks
N_BUCKETS = 1


def _h_fields():
    import pyarrow as pa

    return [("o_orderkey", pa.int64()), ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64())]


def _hp_fields():
    import pyarrow as pa

    return [("o_orderkey", pa.int64()), ("o_totalprice", pa.float64())]


# -- statement builders: (sql, replay spec) ---------------------------------

def insert(table, pred, static=None):
    if table == HP and static is not None:
        sql = (f"INSERT INTO {HP} PARTITION ({PART_COL}='{static}') "
               f"SELECT o_orderkey, o_totalprice FROM {SRC} WHERE {pred}")
    elif table == HP:
        sql = (f"INSERT INTO {HP} SELECT o_orderkey, o_totalprice, "
               f"o_orderstatus FROM {SRC} WHERE {pred}")
    else:
        sql = (f"INSERT INTO {table} SELECT o_orderkey, o_orderstatus, "
               f"o_totalprice FROM {SRC} WHERE {pred}")
    return sql, ("insert", table, pred, static)


def update(table, pred, delta):
    sql = (f"UPDATE {table} SET o_totalprice = o_totalprice + {delta} "
           f"WHERE {pred}")
    return sql, ("update", table, pred, delta)


def delete(table, pred):
    return f"DELETE FROM {table} WHERE {pred}", ("delete", table, pred)


def merge(table, pred, delta):
    if table == HP:
        src = f"SELECT o_orderkey, o_totalprice FROM {SRC} WHERE {pred}"
        ins = "(s.o_orderkey, s.o_totalprice, 'M')"
    else:
        src = (f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM {SRC} "
               f"WHERE {pred}")
        ins = "(s.o_orderkey, s.o_orderstatus, s.o_totalprice)"
    sql = (f"MERGE INTO {table} t USING ({src}) s "
           "ON t.o_orderkey = s.o_orderkey "
           f"WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + {delta} "
           f"WHEN NOT MATCHED THEN INSERT VALUES {ins}")
    return sql, ("merge", table, pred, delta)


def overwrite(table, pred, part=None):
    if table == HP:
        sql = (f"INSERT OVERWRITE {HP} PARTITION ({PART_COL}='{part}') "
               f"SELECT o_orderkey, o_totalprice FROM {SRC} WHERE {pred}")
    else:
        sql = (f"INSERT OVERWRITE TABLE {table} SELECT o_orderkey, "
               f"o_orderstatus, o_totalprice FROM {SRC} WHERE {pred}")
    return sql, ("iow", table, pred, part)


class Params:
    """Seeded statement parameters."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def mod(self, m: int, op: str = "=") -> str:
        return f"o_orderkey % {m} {op} {self.rng.randrange(m)}"

    def delta(self) -> str:
        return self.rng.choice(["0.5", "1.25", "2.0", "3.75"])

    def status(self) -> str:
        return self.rng.choice(["F", "O", "P"])


def _op(kind, verb, sql=None, session=SESSION, expect="DONE", table=None,
        spec=None):
    return {"kind": kind, "verb": verb, "sql": sql, "session": session,
            "expect": expect, "table": table, "spec": spec}


def _stmt(verb, built, table, session=SESSION, expect="DONE"):
    sql, spec = built
    return _op("handle", verb, sql, session, expect, table, spec)


def round_units(p: Params) -> list[tuple[str, list[dict]]]:
    """One round of (unit name, steps), in a fixed order with fixed
    statement shapes: the delta directories every read and COMMIT sees
    grow the same way for every seed, and only the statement
    parameters (key residues, price deltas, partition values) vary."""
    return [
        ("INSERT", [_stmt("INSERT", insert(H, p.mod(16)), H)]),
        ("INSERT_P", [_stmt("INSERT", insert(HP, p.mod(16)), HP)]),
        ("INSERT_PS", [_stmt("INSERT", insert(HP, p.mod(16), p.status()), HP)]),
        ("READ_C", [_op("read", "READ", table=C)]),
        ("UPDATE_P", [_stmt("UPDATE", update(
            HP, f"o_orderstatus = '{p.status()}' AND {p.mod(13)}", p.delta()), HP)]),
        ("UPDATE", [_stmt("UPDATE", update(H, p.mod(13), p.delta()), H)]),
        ("MERGE", [_stmt("MERGE", merge(H, p.mod(19), p.delta()), H)]),
        ("TXN_C", _block([overwrite(C, p.mod(3, "<>")),
                          update(C, p.mod(13), p.delta()),
                          delete(C, p.mod(17))], C)),
        ("READ", [_op("read", "READ", table=H)]),
        ("DELETE_P", [_stmt("DELETE", delete(
            HP, f"o_orderstatus = '{p.status()}' AND {p.mod(5)}"), HP)]),
        ("IOW_P", [_stmt("IOW", overwrite(HP, p.mod(11), part="P"), HP)]),
        ("DELETE", [_stmt("DELETE", delete(H, p.mod(17)), H)]),
        ("TXN", _block([insert(H, p.mod(16)),
                        update(H, p.mod(13), p.delta()),
                        delete(H, p.mod(17))], H)),
        ("LOCK_P", _lock_refusal(p)),
        ("READ_P", [_op("read", "READ", table=HP)]),
        ("RUN_ONCE", [_op("run_once", "RUN_ONCE")]),
        ("MERGE_P", [_stmt("MERGE", merge(HP, p.mod(19), p.delta()), HP)]),
        ("CONFLICT", _conflict(p)),
        ("COMPACT_P", [
            _op("handle", "COMPACT",
                f"ALTER TABLE {HP} PARTITION ({PART_COL}='O') COMPACT 'major'",
                table=HP),
            _op("run_once", "RUN_ONCE")]),
    ]


def _block(statements, table) -> list[dict]:
    """BEGIN, the buffered statements, COMMIT."""
    return (
        [_op("handle", "BEGIN", "BEGIN", SESSION, "ACTIVE")]
        + [_stmt("BUFFER", built, table, SESSION, "ACTIVE") for built in statements]
        + [_op("handle", "COMMIT", "COMMIT", SESSION, "DONE", table)]
    )


def _conflict(p: Params) -> list[dict]:
    """Two BEGIN blocks update/delete the same unpartitioned table; the
    first COMMIT wins and the second aborts (HIVE-13395)."""
    return [
        _op("handle", "BEGIN", "BEGIN", SESSION, "ACTIVE"),
        _stmt("BUFFER", update(H, p.mod(13), p.delta()), H, SESSION, "ACTIVE"),
        _op("handle", "BEGIN", "BEGIN", OTHER, "ACTIVE"),
        _stmt("BUFFER", delete(H, p.mod(17)), H, OTHER, "ACTIVE"),
        _op("handle", "COMMIT", "COMMIT", SESSION, "DONE", H),
        _op("handle", "COMMIT", "COMMIT", OTHER, "CONFLICT", H),
    ]


def _lock_refusal(p: Params) -> list[dict]:
    """An open block's SHARED_WRITE lock refuses a concurrent INSERT
    OVERWRITE's EXCLUSIVE lock; the block then rolls back."""
    return [
        _op("handle", "BEGIN", "BEGIN", OTHER, "ACTIVE"),
        _stmt("BUFFER", update(HP, p.mod(13), p.delta()), HP, OTHER, "ACTIVE"),
        _stmt("IOW", overwrite(HP, p.mod(11), part="P"), HP, SESSION, "LOCK"),
        _op("handle", "ROLLBACK", "ROLLBACK", OTHER, "DONE", HP),
    ]


def classify(reply: str, expect: str) -> str:
    """'ok', 'lock', 'conflict' (expected outcomes) or 'failed'."""
    if expect in ("DONE", "ACTIVE"):
        return "ok" if reply.startswith(expect + ":") else "failed"
    if expect == "LOCK":
        return "lock" if reply.startswith("ERR_ENDED:cannot acquire") else "failed"
    if expect == "CONFLICT":
        ok = reply.startswith("ERR_ENDED:") and "write-write conflict" in reply
        return "conflict" if ok else "failed"
    return "failed"


class AcidDmlWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.mgr = None

    # -- set-up ------------------------------------------------------------

    def setup(self, spark) -> dict:
        from layer_apache_hive_spark.acid import TransactionCatalog
        from layer_apache_hive_spark.catalog import read_table
        from layer_apache_hive_spark.sources.hive_acid import (
            HiveAcidInitiator, HiveWriteIdLedger)
        from layer_apache_hive_spark.txn import TxnSessionManager

        self.spark = spark
        t0 = time.perf_counter()
        read_table(spark, self.ctx.data_dir, "orders").count()  # the only input
        t1 = time.perf_counter()
        work = self.ctx.work_dir
        self.roots = {H: os.path.join(work, H), HP: os.path.join(work, HP)}
        self.cat_root = os.path.join(work, "cat")
        for r in self.roots.values():
            os.makedirs(r, exist_ok=True)
        src = read_table(spark, self.ctx.data_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice")
        src.createOrReplaceTempView(SRC)
        self.mgr = TxnSessionManager(
            spark,
            TransactionCatalog(self.cat_root),
            publish=False,
            ledger=HiveWriteIdLedger(os.path.join(work, "ledger.jsonl")),
            initiator=HiveAcidInitiator(spark),
        )
        self.mgr.enroll_hive_acid(H, self.roots[H], H_SCHEMA, _h_fields(),
                                  n_buckets=N_BUCKETS, serve=False)
        self.mgr.enroll_hive_acid(HP, self.roots[HP], HP_SCHEMA, _hp_fields(),
                                  n_buckets=N_BUCKETS, serve=False,
                                  partition_col=PART_COL)
        self.mgr.catalog.commit(spark, {C: src.filter(SEED_PRED)})
        self.log = [{"op": {"kind": "seed", "verb": "SEED",
                            "spec": ("insert", C, SEED_PRED, None)},
                     "reply": "DONE:", "outcome": "ok"}]
        for built, table in ((insert(H, SEED_PRED), H), (insert(HP, SEED_PRED), HP)):
            op = _stmt("INSERT", built, table)
            reply = self.mgr.handle(SESSION, op["sql"])
            if not reply.startswith("DONE:"):
                raise RuntimeError(f"seeding {table} failed: {reply[:300]}")
            self.log.append({"op": op, "reply": reply, "outcome": "ok"})
        return {"warm_s": t1 - t0, "fixture_s": time.perf_counter() - t1}

    def teardown(self) -> None:
        self.mgr = None

    # -- the stream --------------------------------------------------------------

    def plan(self, seed: int, rounds: int) -> list[dict]:
        """``rounds`` rounds of units with seeded statement parameters;
        one unit is one op of the closed loop."""
        p = Params(random.Random(seed))
        units = []
        for _ in range(rounds):
            units.extend(round_units(p))
        return [
            {"op": f"op{i}:{name}", "verb": name,
             "steps": [dict(st, op=f"op{i}.{k}:{st['verb']}",
                            count_key=f"{name}.{k}:{st['verb']}")
                       for k, st in enumerate(steps)]}
            for i, (name, steps) in enumerate(units)
        ]

    def run(self, units: list[dict], probe, tracer) -> list[dict]:
        out = []
        for unit in units:
            tracer.op_id = unit["op"]
            rec = {"op": unit["op"], "id": unit["verb"], "verb": unit["verb"],
                   "ok": True, "err": None, "steps": []}
            wall0 = time.time()
            t0 = time.perf_counter()
            span = tracer.begin("op", id=unit["verb"]) if tracer.enabled else None
            for step in unit["steps"]:
                srec = self._step(step, probe, tracer)
                rec["steps"].append(srec)
                if srec["outcome"] == "failed" and rec["ok"]:
                    rec["ok"] = False
                    rec["err"] = f"{step['verb']}: {srec.get('reply', '')[:200]}"
            rec["latency"] = time.perf_counter() - t0
            if span is not None:
                tracer.end(span)
                rec["span"], rec["wall0"] = span, wall0
            out.append(rec)
        probe.clear_group()
        tracer.op_id = None
        return out

    def _step(self, step: dict, probe, tracer) -> dict:
        probe.set_group(step["op"])
        srec = {"op": step["op"], "verb": step["verb"], "kind": step["kind"],
                "table": step["table"], "count_key": step["count_key"]}
        if tracer.enabled:
            self._before(step, srec)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            if step["kind"] == "handle":
                srec["reply"] = self.mgr.handle(step["session"], step["sql"])
                srec["outcome"] = classify(srec["reply"], step["expect"])
            elif step["kind"] == "read":
                srec["agg"] = self._snapshot_agg(step["table"])
                srec["outcome"] = "ok"
            else:
                self.mgr.initiator.run_once()
                srec["outcome"] = "ok"
        except Exception as e:  # counted, never fatal
            srec["outcome"] = "failed"
            srec["reply"] = f"EXC:{type(e).__name__}: {str(e)[:300]}"
        srec["latency"] = time.perf_counter() - t0
        if tracer.enabled:
            self._after(step, srec, wall0)
        self.log.append({"op": step, "reply": srec.get("reply", ""),
                         "outcome": srec["outcome"], "rec": srec})
        return srec

    def _snapshot(self, table: str):
        """The committed state of ``table``; hive-ACID tables elect
        their directories under a ValidWriteIdList minted from the
        ledger."""
        from layer_apache_hive_spark.sources.hive_acid import (
            read_hive_acid, read_hive_acid_partitioned)

        if table == C:
            return self.mgr.catalog.read(self.spark, C)
        vw = self.mgr.ledger.valid_writeids(self.roots[table], table=table)
        if table == HP:
            return read_hive_acid_partitioned(
                self.spark, self.roots[HP], HP_SCHEMA, PART_COL,
                valid_writeids=vw)
        return read_hive_acid(self.spark, self.roots[H], H_SCHEMA,
                              valid_writeids=vw)

    def _snapshot_agg(self, table: str):
        from pyspark.sql import functions as F

        row = self._snapshot(table).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("k"),
            F.sum("o_totalprice").alias("p")).collect()[0]
        return (int(row["n"]), int(row["k"] or 0), float(row["p"] or 0.0))

    # -- traced-run bookkeeping ------------------------------------------------

    def _before(self, op, rec) -> None:
        if op["kind"] == "read" and op["table"] in ACID_TABLES:
            rec["dirs"] = acid_dir_count(self.roots[op["table"]])

    def _after(self, op, rec, wall0) -> None:
        if op["kind"] == "run_once":
            rec["bytes_rewritten"] = sum(
                files_written_since(r, wall0) for r in self.roots.values())
        elif op["kind"] == "handle" and op["table"] in ACID_TABLES:
            rec["bytes_written"] = files_written_since(
                self.roots[op["table"]], wall0)
        elif op["kind"] == "handle" and op["verb"] == "COMMIT":
            rec["bytes_staged"] = files_written_since(self.cat_root, wall0)

    # -- checks (outside the timed region) -------------------------------------

    def check(self, results: list[dict]) -> dict[str, str]:
        """Replay the log in DuckDB; returns {op id or final:<table>:
        problem} for every snapshot read and final table that differs."""
        from layer_apache_hive_spark.oracle_compare import compare_frames

        replay = Replay(self.ctx)
        bad: dict[str, str] = {}
        # rows the timed statements wrote to the hive-ACID tables; the
        # set-up seeding entries carry no "rec" and are not counted
        self.added_rows = 0
        for entry in self.log:
            op, outcome = entry["op"], entry["outcome"]
            if op["kind"] == "read" and outcome == "ok":
                want = replay.agg(op["table"])
                got = entry["rec"]["agg"]
                if not _agg_equal(got, want):
                    bad[entry["rec"]["op"]] = f"read {op['table']}: {got} != {want}"
                continue
            if outcome == "ok":
                rows = replay.observe(op)
                if "rec" in entry:
                    self.added_rows += rows
            elif op["kind"] == "handle":
                replay.discard(op, entry["reply"])
        for table in (H, HP, C):
            try:
                got = self._snapshot(table).select(
                    "o_orderkey", "o_orderstatus", "o_totalprice").toPandas()
                problems = compare_frames(got, replay.table(table))
            except Exception as e:
                problems = [f"{type(e).__name__}: {str(e)[:200]}"]
            if problems:
                bad[f"final:{table}"] = "; ".join(problems)[:300]
        self.live = {t: replay.table(t) for t in (H, HP, C)}
        return bad

    # -- metrics ------------------------------------------------------------

    def end_to_end(self, results: list[dict]) -> dict[str, float]:
        steps = [s for r in results for s in r["steps"]]
        writes = [s["latency"] for s in steps
                  if s["verb"] in ("INSERT", "UPDATE", "DELETE", "MERGE",
                                   "IOW", "COMMIT")
                  and s.get("reply", "").startswith("DONE:")]
        reads = [s["latency"] for s in steps
                 if s["kind"] == "read" and s["table"] in ACID_TABLES]
        return {
            "write_p50_s": stats.median(writes),
            "read_p50_s": stats.median(reads),
            "space_amp": self.disk_bytes() / max(1, self.live_bytes()),
        }

    def disk_bytes(self) -> int:
        total = 0
        for root in (*self.roots.values(), self.cat_root):
            for dirpath, _d, files in os.walk(root):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        pass
        return total

    def live_bytes(self) -> int:
        import pyarrow as pa

        return sum(pa.Table.from_pandas(df, preserve_index=False).nbytes
                   for df in self.live.values())

    def layer_metrics(self, results: list[dict], tracer) -> dict[str, float]:
        m: dict[str, float] = {}
        unit_count = max(1, len(results))
        results = [s for r in results for s in r["steps"]]
        for v in VERBS:
            rs = [r for r in results if r["verb"] == v]
            m[f"txn.handle_s.{v}"] = stats.mean([r["latency"] for r in rs])
            m[f"txn.jobs.{v}"] = stats.mean([r["spark"]["jobs"] for r in rs])
            m[f"txn.failed.{v}"] = float(
                sum(1 for r in rs if r["outcome"] == "failed"))
        m["txn.lock_refusals"] = float(
            sum(1 for r in results if r.get("outcome") == "lock"))
        m["txn.conflict_aborts"] = float(
            sum(1 for r in results if r.get("outcome") == "conflict"))
        reads = [r for r in results
                 if r["kind"] == "read" and r["table"] in ACID_TABLES]
        m["hive_acid.read_s"] = stats.mean([r["latency"] for r in reads])
        m["hive_acid.dirs_per_read"] = stats.mean([r["dirs"] for r in reads])
        m["hive_acid.tasks_per_read"] = stats.mean(
            [r["spark"]["tasks"] for r in reads])
        written = sum(r.get("bytes_written", 0) for r in results)
        m["hive_acid.bytes_written"] = float(written)
        live_rows = sum(len(df) for df in self.live.values())
        row_bytes = self.live_bytes() / max(1, live_rows)
        m["hive_acid.write_amp"] = written / max(1.0, self.added_rows * row_bytes)
        m["ledger.s"] = sum(tracer.durations("ledger")) / unit_count
        runs = [r for r in results if r["kind"] == "run_once"]
        m["compactor.s"] = stats.mean([r["latency"] for r in runs])
        m["compactor.bytes_rewritten"] = float(
            sum(r.get("bytes_rewritten", 0) for r in runs))
        m["acid.commit_s"] = stats.mean(tracer.durations("acid.commit"))
        m["acid.bytes_staged"] = float(
            sum(r.get("bytes_staged", 0) for r in results))
        return m


def acid_dir_count(root: str) -> int:
    """base_/delta_/delete_delta_ directories under a table root,
    partition directories included."""
    n = 0
    for dirpath, dirs, _files in os.walk(root):
        for d in dirs:
            if d.startswith(("base_", "delta_", "delete_delta_")):
                n += 1
        dirs[:] = [d for d in dirs if "=" in d]
    return n


def _agg_equal(got, want) -> bool:
    n, k, p = got
    wn, wk, wp = want
    return n == wn and k == wk and abs(p - wp) <= 1e-9 * max(1.0, abs(wp))


class Replay:
    """DuckDB model of the three tables, fed with committed statements
    in commit order. Hive-ACID BEGIN blocks evaluate every statement
    against the transaction's one snapshot (the surface's documented
    no-read-your-own-writes posture); catalog blocks compose in
    statement order."""

    def __init__(self, ctx):
        self.con = ctx.duckdb()
        self.con.execute(
            f"CREATE VIEW {SRC} AS SELECT o_orderkey, o_orderstatus, "
            "o_totalprice FROM orders")
        self.con.execute("CREATE SEQUENCE rid_seq")
        for t in (H, HP, C):
            self.con.execute(
                f"CREATE TABLE {t} (rid BIGINT, o_orderkey BIGINT, "
                "o_orderstatus VARCHAR, o_totalprice DOUBLE)")
        self.open: dict[str, list] = {}

    def observe(self, op) -> int:
        """Apply one successful op; returns the rows it wrote to the
        hive-ACID tables."""
        kind, verb, session = op["kind"], op["verb"], op.get("session")
        if kind == "seed":
            return self._apply([op["spec"]], C)
        if kind != "handle":
            return 0
        if verb == "BEGIN":
            self.open[session] = []
        elif verb == "BUFFER":
            self.open[session].append(op["spec"])
        elif verb == "ROLLBACK":
            self.open.pop(session, None)
        elif verb == "COMMIT":
            specs = self.open.pop(session, [])
            return self._apply(specs, specs[0][1]) if specs else 0
        elif op["spec"] is not None:
            return self._apply([op["spec"]], op["spec"][1])
        return 0

    def discard(self, op, reply: str) -> None:
        """A failed or refused statement: an ERR_ENDED reply (or any
        failed COMMIT/ROLLBACK) ends its session's transaction, an
        ERR_ACTIVE one only drops the statement itself."""
        if reply.startswith("ERR_ENDED") or op["verb"] in ("COMMIT", "ROLLBACK"):
            self.open.pop(op["session"], None)

    @staticmethod
    def _rows_sql(spec, frm: str) -> str:
        """Rows an INSERT / INSERT OVERWRITE adds (a static partition
        value overrides the data's) or an UPDATE's new images."""
        kind, pred = spec[0], spec[2]
        if kind == "update":
            return (f"SELECT o_orderkey, o_orderstatus, o_totalprice + {spec[3]} "
                    f"FROM {frm} WHERE {pred}")
        status = f"'{spec[3]}'" if spec[3] else "o_orderstatus"
        return (f"SELECT o_orderkey, {status}, o_totalprice FROM {SRC} "
                f"WHERE {pred}")

    def _apply(self, specs, table) -> int:
        con = self.con
        if table == C:  # copy-on-write catalog: statements compose in order
            for spec in specs:
                kind, pred = spec[0], spec[2]
                if kind == "iow":
                    con.execute(f"DELETE FROM {C}")
                if kind in ("insert", "iow"):
                    self._insert(C, self._rows_sql(spec, C))
                elif kind == "update":
                    con.execute(
                        f"UPDATE {C} SET o_totalprice = o_totalprice + {spec[3]} "
                        f"WHERE {pred}")
                elif kind == "delete":
                    con.execute(f"DELETE FROM {C} WHERE {pred}")
            return 0
        con.execute(f"CREATE OR REPLACE TEMP TABLE snap AS SELECT * FROM {table}")
        con.execute("CREATE OR REPLACE TEMP TABLE dels (rid BIGINT)")
        con.execute("CREATE OR REPLACE TEMP TABLE ins (o_orderkey BIGINT, "
                    "o_orderstatus VARCHAR, o_totalprice DOUBLE)")
        for spec in specs:
            kind, pred = spec[0], spec[2]
            if kind == "iow":
                part = f"WHERE o_orderstatus = '{spec[3]}'" if spec[3] else ""
                con.execute(f"INSERT INTO dels SELECT rid FROM snap {part}")
                con.execute(f"INSERT INTO ins {self._rows_sql(spec, 'snap')}")
            elif kind == "insert":
                con.execute(f"INSERT INTO ins {self._rows_sql(spec, 'snap')}")
            elif kind == "update":
                con.execute(f"INSERT INTO dels SELECT rid FROM snap WHERE {pred}")
                con.execute(f"INSERT INTO ins {self._rows_sql(spec, 'snap')}")
            elif kind == "delete":
                con.execute(f"INSERT INTO dels SELECT rid FROM snap WHERE {pred}")
            elif kind == "merge":
                src = f"(SELECT o_orderkey FROM {SRC} WHERE {pred})"
                new_status = "'M'" if table == HP else "o_orderstatus"
                con.execute(f"INSERT INTO dels SELECT rid FROM snap "
                            f"WHERE o_orderkey IN {src}")
                con.execute(
                    "INSERT INTO ins SELECT o_orderkey, o_orderstatus, "
                    f"o_totalprice + {spec[3]} FROM snap WHERE o_orderkey IN {src}")
                con.execute(
                    f"INSERT INTO ins SELECT o_orderkey, {new_status}, "
                    f"o_totalprice FROM {SRC} WHERE {pred} AND o_orderkey NOT IN "
                    "(SELECT o_orderkey FROM snap)")
        con.execute(f"DELETE FROM {table} WHERE rid IN (SELECT rid FROM dels)")
        return self._insert(table, "SELECT * FROM ins")

    def _insert(self, table: str, select_sql: str) -> int:
        return self.con.execute(
            f"INSERT INTO {table} SELECT nextval('rid_seq'), * FROM "
            f"({select_sql})").fetchone()[0]

    def agg(self, table: str):
        n, k, p = self.con.execute(
            f"SELECT count(*), coalesce(sum(o_orderkey), 0), "
            f"coalesce(sum(o_totalprice), 0) FROM {table}").fetchone()
        return int(n), int(k), float(p)

    def table(self, table: str):
        return self.con.execute(
            f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM {table}").df()
