"""What the three workloads share: the run context, program set-up,
the DuckDB oracle, output normalisation and the memory sampler."""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, field

from spans import Tracer


class CheckFailed(Exception):
    """An output that does not match its ground truth."""


@dataclass
class Ctx:
    """State of one benchmark run, passed to every workload hook.  A
    workload's ``prepare``, run after the timed set-up, adds its own
    ground truth and paths as further attributes."""

    work: str
    seed: int
    tracer: Tracer
    inputs: str = ""
    meta: dict = field(default_factory=dict)
    sf: str = ""
    spark: object = None
    queries: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def span(self, name: str):
        return self.tracer.span(name)


def setup_program(ctx: Ctx, tables: tuple[str, ...]) -> None:
    """The program's own set-up, as a user's first call pays it: a
    session (which starts the JVM), the query registry, and the
    one-time multi-file rewrite of each fixture table.  Each layer's
    span includes the imports it is the first to pay."""
    with ctx.span("session.get_spark"):
        from inverted_index_using_the_map_reduce_paradigm_spark.session import get_spark

        ctx.spark = get_spark(f"perfbench-{os.path.basename(ctx.inputs)}")
    ctx.tracer.attach(ctx.spark)
    with ctx.span("registry.load_all"):
        from inverted_index_using_the_map_reduce_paradigm_spark.registry import load_all

        ctx.queries = load_all()
    with ctx.span("data.table_first"):
        from inverted_index_using_the_map_reduce_paradigm_spark import data

        for name in tables:
            data.table(ctx.spark, ctx.sf, name)


def duckdb_con(sf: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def norm_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples of strings, columns in name order; floats
    at 6 decimals (the registry's oracle convention)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        return f"{v:.6f}" if isinstance(v, float) else str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def oracle_rows(con, sql: str) -> list[tuple]:
    rel = con.sql(sql)
    return norm_rows(rel.columns, rel.fetchall())


def spark_rows(df_columns: list[str], rows) -> list[tuple]:
    return norm_rows(df_columns, [tuple(r) for r in rows])


_NON_AZ = re.compile(r"[^a-z]")


def tokens(text: str) -> list[str]:
    """The reference tokenizer on generated text, which has no tabs:
    split on whitespace, lowercase, keep a-z, drop empty tokens."""
    out = (_NON_AZ.sub("", t.lower()) for t in text.split())
    return [t for t in out if t]


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class RssSampler:
    """Peak summed RSS of a process and all its descendants (the driver
    JVM and the Python workers it forks), sampled from /proc."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_bytes = 0
        self._pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, pid: int) -> None:
        self._pid = pid
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss(page))
            self._stop.wait(self.INTERVAL_S)

    def _tree_rss(self, page: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            fields = st[st.rindex(")") + 2 :].split()
            pid = int(d)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * page
        total, todo = 0, [self._pid]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, ()))
        return total


def host_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kib / 2**20, 2),
        "loadavg_start": os.getloadavg(),
        "t_start": time.time(),
    }
