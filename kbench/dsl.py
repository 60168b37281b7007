"""Workload ``dsl_mixed``: one KstoreClient talks over loopback to an
in-process KstoreServer and sends DSL scripts, line by line, against a
catalog built in set-up by DSL ``create`` + ``load``.

Request kinds (class in brackets), with seeded arguments; one cycle runs
24 requests in a fixed order:

- ``join`` [heavy], three times: the reference perftest script, select
  -> fetch -> {hash,sort,tree,loop}join -> fetch -> max/min/count ->
  tuple, the keyword rotating (hash, sort and tree in the first cycle,
  loop in set-up); select widths are fixed so every seed joins the same
  share of rows.
- ``point`` (4) and ``range`` (3) [read]: select -> fetch -> sum/avg on the
  sorted column ``sf``; ``math`` (2) [read]: select -> 2 fetches -> add ->
  mul -> avg on r.
- ``insert_r`` (8) [write]: one row across r's columns, which stay one
  load group, so each insert appends a group segment. Load segment and
  inserts are all small segments, so the sixth measured insert (the
  seventh of the session) triggers an inline group compaction.
- ``insert_s`` (1) [write]: one row across s's columns, which are detached,
  so each column gets an ``append_segment``.
- ``update`` (2) [write]: sg of the rows of one sf value; ``delete`` (1)
  [write], last: the rows of a two-value sa range across all of s's
  columns. Both are copy-on-write ``replace``s that tombstone the old
  segments.

s is detached by the first delete (in set-up), so the joins, the s reads
and the s mutations run the detached-column paths, while r stays one
load group and the math reads and the r side of the joins run the group
path (late materialisation, zone maps) over the growing and compacted
group.

Every output is checked after the run against a DuckDB mirror of the
generated tables into which each mutation is replayed by ``pos``, with
C int32 arithmetic (wrap-around, truncating division) as in
``operators/cints.py``.
"""

from __future__ import annotations

import json
import os

import numpy as np

from kbench.inputs import NUMR, NUMS, dir_bytes, dsl_tables

ALGOS = ("hash", "sort", "tree", "loop")
CYCLE = ("join", "point", "insert_r", "range", "insert_r", "math", "insert_r", "point",
         "insert_s", "join", "insert_r", "range", "update", "insert_r", "join", "point",
         "insert_r", "math", "insert_r", "range", "update", "insert_r", "point", "delete")
# one request of each kind: first calls cost up to twice a warm one
WARMUP = ("join", "point", "insert_r", "range", "math", "insert_s", "update", "delete")
CLASS = {"join": "heavy", "point": "read", "range": "read", "math": "read",
         "insert_r": "write", "insert_s": "write", "delete": "write", "update": "write"}
INT_MIN, INT_MAX = -(2**31), 2**31 - 1


def wrap32(x: int) -> int:
    x %= 2**32
    return x - 2**32 if x >= 2**31 else x


def wrap32_np(x: np.ndarray) -> np.ndarray:
    x = np.mod(x, 2**32)
    return np.where(x >= 2**31, x - 2**32, x)


def cdiv(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b > 0) else -q


class DslWorkload:
    name = "dsl_mixed"

    def __init__(self, spark, inputs_dir: str, db_dir: str, seed: int):
        self.spark, self.inputs_dir, self.db_dir = spark, inputs_dir, db_dir
        self.seed = seed
        self.rng = np.random.default_rng([seed, 3])
        self.store_dir = db_dir
        self._ids = 0
        self._joins = 0
        self.server = self.client = None

    # -- requests -------------------------------------------------------
    def _request(self, kind: str) -> dict:
        rng = self.rng
        if kind == "join":
            algo = ALGOS[self._joins % len(ALGOS)]
            self._joins += 1
            lo1, lo2 = int(rng.integers(1, 4)), int(rng.integers(31, 42))
            params = {"algo": algo, "rc": (lo1, lo1 + 6), "sf": (lo2, lo2 + 58)}
            lines = [f"p1=select(rc,{lo1},{lo1 + 6})", f"p2=select(sf,{lo2},{lo2 + 58})",
                     "v1=fetch(ra,p1)", "v2=fetch(sa,p2)", f"l,r={algo}join(v1,v2)",
                     "x=fetch(rd,l)", "y=fetch(sg,r)", "m1=max(x)", "m2=min(y)",
                     "c1=count(x)", "c2=count(y)", "tuple(m1,m2,c1,c2)"]
        elif kind == "point":
            v = int(rng.integers(31, 100))
            params = {"sf": v}
            lines = [f"p=select(sf,{v})", "v=fetch(sg,p)", "a=sum(v)", "print(a)"]
        elif kind == "range":
            lo = int(rng.integers(31, 91))
            params = {"sf": (lo, lo + 9)}
            lines = [f"p=select(sf,{lo},{lo + 9})", "v=fetch(sg,p)", "a=avg(v)", "print(a)"]
        elif kind == "math":
            lo = int(rng.integers(1, 8))
            params = {"rc": (lo, lo + 2)}
            lines = [f"p=select(rc,{lo},{lo + 2})", "a=fetch(ra,p)", "b=fetch(rd,p)",
                     "m=add(a,b)", "n=mul(m,a)", "x=avg(n)", "print(x)"]
        elif kind == "insert_r":
            row = (int(rng.integers(0, 1001)), int(rng.integers(1, 11)),
                   -int(rng.integers(0, 2**30)))
            params = {"row": row}
            lines = [f"insert(ra,{row[0]},rc,{row[1]},rd,{row[2]})"]
        elif kind == "insert_s":
            row = (int(rng.integers(0, 1001)), int(rng.integers(31, 100)),
                   int(rng.integers(0, 2**30)))
            params = {"row": row}
            lines = [f"insert(sa,{row[0]},sf,{row[1]},sg,{row[2]})"]
        elif kind == "delete":
            v = int(rng.integers(0, 1000))
            params = {"sa": (v, v + 1)}
            lines = [f"d=select(sa,{v},{v + 1})", "delete(d,sa,sf,sg)"]
        else:  # update
            v, w = int(rng.integers(31, 100)), int(rng.integers(0, 2**30))
            params = {"sf": v, "sg": w}
            lines = [f"u=select(sf,{v})", f"update(u,sg,{w})"]
        self._ids += 1
        return {"id": self._ids, "kind": kind, "cls": CLASS[kind],
                "spark_kind": "mutation" if CLASS[kind] == "write" else "query",
                "params": params, "lines": lines,
                "rows": NUMR + NUMS if kind == "join" else 0}

    def warmup(self) -> list[dict]:
        """The warm-up join uses loop; measured cycles start again from
        hash, so every run executes all four join keywords."""
        self._joins = 3
        reqs = [self._request(k) for k in WARMUP]
        self._joins = 0
        return reqs

    def cycle(self) -> list[dict]:
        return [self._request(k) for k in CYCLE]

    def execute(self, req: dict) -> str:
        out = ""
        for line in req["lines"]:
            out = self.client.query(line)
        return out

    # -- lifecycle -------------------------------------------------------
    def setup(self, run_timed) -> None:
        """Build the catalog by DSL create + load, then run one request
        of every kind."""
        from kstore_spark.server import KstoreClient, KstoreServer

        self.server = KstoreServer(self.spark, self.db_dir, load_dir=self.inputs_dir).start()
        self.client = KstoreClient(self.server.host, self.server.port)
        for line in ('create(ra,"unsorted")', 'create(rc,"unsorted")',
                     'create(rd,"unsorted")', 'create(sa,"unsorted")',
                     'create(sf,"sorted")', 'create(sg,"unsorted")',
                     'load("r.parquet")', 'load("s.parquet")'):
            self.client.query(line)
        self.warm_records = [run_timed(r) for r in self.warmup()]

    def close(self) -> None:
        if self.client is not None:
            self.client.close()
        if self.server is not None:
            self.server.stop()

    # -- checks ----------------------------------------------------------
    def check(self, records: list[dict]) -> dict[int, str]:
        """Replay ``records`` (in execution order) against the DuckDB
        mirror. Returns {request id: mismatch message}; sets each
        mutation record's ``user_bytes`` and the live cell count."""
        import duckdb
        import pandas as pd

        tables = dsl_tables(self.seed)
        con = duckdb.connect()
        for name, cols in tables.items():
            n = len(next(iter(cols.values())))
            frame = pd.DataFrame({"pos": np.arange(n, dtype=np.int64),
                                  **{c: v.astype(np.int64) for c, v in cols.items()}})
            con.register(f"{name}_src", frame)
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_src")
        next_pos = {"r": NUMR, "s": NUMS}
        bad: dict[int, str] = {}
        for rec in records:
            p = rec["params"]
            kind = rec["kind"]
            if kind == "join":
                row = con.execute(
                    "SELECT max(r.rd), min(s.sg), count(*) FROM r JOIN s ON r.ra = s.sa "
                    "WHERE r.rc BETWEEN ? AND ? AND s.sf BETWEEN ? AND ?",
                    [*p["rc"], *p["sf"]]).fetchone()
                mx = INT_MIN if row[0] is None else row[0]
                mn = INT_MAX if row[1] is None else row[1]
                want = f"({mx},{mn},{row[2]},{row[2]})"
            elif kind in ("point", "range"):
                lo, hi = (p["sf"], p["sf"]) if kind == "point" else p["sf"]
                total, n = con.execute(
                    "SELECT coalesce(sum(sg), 0), count(*) FROM s WHERE sf BETWEEN ? AND ?",
                    [lo, hi]).fetchone()
                want = str(wrap32(int(total)) if kind == "point" else cdiv(wrap32(int(total)), n))
            elif kind == "math":
                vals = con.execute("SELECT ra, rd FROM r WHERE rc BETWEEN ? AND ?",
                                   list(p["rc"])).fetchnumpy()
                a, b = vals["ra"].astype(np.int64), vals["rd"].astype(np.int64)
                total = int(wrap32_np(wrap32_np(a + b) * a).sum())
                want = str(cdiv(wrap32(total), len(a)))
            elif kind in ("insert_r", "insert_s"):
                table = kind[-1]
                con.execute(f"INSERT INTO {table} VALUES (?, ?, ?, ?)",
                            [next_pos[table], *p["row"]])
                next_pos[table] += 1
                rec["user_bytes"] = 3 * 4
                want = ""
            elif kind == "delete":
                where = ("FROM s WHERE sa BETWEEN ? AND ?", list(p["sa"]))
                (n,) = con.execute("SELECT count(*) " + where[0], where[1]).fetchone()
                con.execute("DELETE " + where[0], where[1])
                rec["user_bytes"] = 3 * 4 * n
                want = ""
            else:
                (n,) = con.execute("SELECT count(*) FROM s WHERE sf = ?", [p["sf"]]).fetchone()
                con.execute("UPDATE s SET sg = ? WHERE sf = ?", [p["sg"], p["sf"]])
                rec["user_bytes"] = 4 * n
                want = ""
            if rec.get("error") is None and rec["out"].strip() != want:
                bad[rec["id"]] = f"{kind} {p}: got {rec['out'].strip()!r}, want {want!r}"
        (nr,) = con.execute("SELECT count(*) FROM r").fetchone()
        (ns,) = con.execute("SELECT count(*) FROM s").fetchone()
        self.live_cells = 3 * nr + 3 * ns
        con.close()
        return bad

    # -- end-of-run state ------------------------------------------------
    def storage_amp(self) -> float:
        """db-dir bytes over the live data's int32 bytes."""
        return dir_bytes(self.db_dir) / (4 * self.live_cells)

    def catalog_state(self) -> dict:
        with open(os.path.join(self.db_dir, "catalog.json")) as f:
            meta = json.load(f)
        live = sum(len(g["segments"]) for g in meta.get("groups", {}).values())
        live += sum(len(c["segments"]) for c in meta["columns"].values())
        tomb = sum(dir_bytes(os.path.join(self.db_dir, e[0] if isinstance(e, list) else e))
                   for e in meta.get("tombstones", []))
        return {"segments_live": live, "tombstoned_bytes": tomb}
