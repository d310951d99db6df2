"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload {build,search,curate} --seed N \
        --seconds S --trace {0,1}

Run it from the root of a checkout.  It generates the workload's
inputs from ``--seed`` in a child process (reused when they already
exist), sets the program up, computes the ground truth, then runs
rounds of operations through the package's public functions on
``local[nproc]`` for at least ``--seconds`` seconds, checking every
output outside the timed region.
It prints every metric by name with its unit, and as its last line one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports
the per-layer metrics, read from Spark's own stage metrics at every
span, and the time tracing adds as a share of the untraced work.
Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# stdlib only: nothing of the program's stack is imported before set-up
from common import CheckFailed, Ctx, RssSampler, host_record  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import Metrics, median  # noqa: E402

PKG = "inverted_index_using_the_map_reduce_paradigm_spark"
# end-to-end metrics, reported by every workload: name -> unit
E2E_UNITS = {"setup_s": "s", "round_p50_ms": "ms"}
MAX_CONSECUTIVE_FAILURES = 3
DEADLINE_S = 170  # the run must end within 180 s


class Deadline(Exception):
    pass


def _workload(name: str):
    import build
    import curate
    import search

    return {"build": build, "search": search, "curate": curate}[name]


def _inputs(work: str, kind: str, seed: int) -> tuple[str, dict]:
    """The seed's inputs, generated (or reused) by ``gen.py`` in a child
    process, so this one imports numpy and pyarrow only when the
    program's set-up does."""
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), os.path.join(work, "inputs"), kind,
         str(seed)],
        check=True, stdout=subprocess.PIPE, text=True, timeout=120,
    )
    inputs = res.stdout.strip().splitlines()[-1]
    with open(os.path.join(inputs, "meta.json")) as f:
        return inputs, json.load(f)


def _environment(root: str, work: str, sf: str) -> None:
    """Program defaults plus the core count; every temp and Spark
    scratch file inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    # scratch of earlier runs (stored indexes, fixture rewrites, Spark
    # blocks) is never reused, so every run pays the same set-up
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "out")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # where the data lives, so the initial partition count is derived
    # from this input and nothing outside the checkout is read
    os.environ["SPARK_GRAFT_SF_DIR"] = sf
    # the one-time multi-file rewrite of each fixture table lands here,
    # not in the checkout-wide cache that a seed's earlier run warmed
    os.environ["SPARK_GRAFT_FIXTURE_CACHE"] = os.path.join(tmp, "fixture_cache")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path.insert(0, root)


def _run_op(ctx: Ctx, wl, i: int, walls: list, outs: list) -> bool:
    """One operation, then its check.  Returns False on failure; its
    wall time is then recorded as None."""
    ctx.attempted += 1
    try:
        with ctx.span("op") as sp:
            out = wl.op(ctx, i)
        wl.check(ctx, out)
    except Deadline:
        raise
    except CheckFailed as e:
        error = f"check failed: {e}"
    except Exception:
        error = traceback.format_exc(limit=3)
    else:
        error = None
    if error is not None:
        ctx.failed += 1
        ctx.errors.append(f"op {i}: {error}")
        walls.append(None)
        return False
    walls.append(sp.wall)
    outs.append(out)
    return True


def _layer_metrics(ctx: Ctx, wl, outs, add) -> None:
    """Every per-layer metric, on every workload.  A layer that the
    workload never calls reads 0."""
    tr = ctx.tracer

    def med_of(spans, fn) -> float:
        return median([fn(x) for x in spans]) if spans else 0.0

    def med(name: str, scale: float = 1.0) -> float:
        return med_of(tr.by_name(name), lambda x: x.wall * scale)

    mib = 2**20
    add("session.get_spark_s", med("session.get_spark"), "s")
    add("registry.load_all_s", med("registry.load_all"), "s")
    add("data.table_first_s", med("data.table_first"), "s")
    add("inverted_index.stored_index_dir_s", med("inverted_index.stored_index_dir"), "s")

    # build: the paper's phases inside the CLI job's write, by stage
    w = tr.by_name("sinks.write_letter_index")
    add("manifest.read_corpus_s", med("manifest.read_corpus"), "s")
    for phase in ("map", "reduce", "write"):
        add(f"build.{phase}.task_s", med_of(w, lambda s: s.total("executorRunTime", phase) / 1e3), "s")
    add("build.map.cpu_s", med_of(w, lambda s: s.total("executorCpuTime", "map") / 1e9), "s")
    add("build.map.gc_s", med_of(w, lambda s: s.total("jvmGcTime", "map") / 1e3), "s")
    add("build.map.input_mib", med_of(w, lambda s: s.total("inputBytes", "map") / mib), "MiB")
    add("build.shuffle_write_mib", med_of(w, lambda s: s.total("shuffleWriteBytes", "map") / mib), "MiB")
    add("build.shuffle_records", med_of(w, lambda s: s.total("shuffleWriteRecords", "map")), "count")
    add("build.spill_mib", med_of(w, lambda s: s.total("diskBytesSpilled") / mib), "MiB")
    sizes, words = [0], 0
    if wl.__name__ == "build" and outs:
        letters = outs[-1]["letters"]
        files = [os.path.join(letters, f) for f in os.listdir(letters) if f.endswith(".txt")]
        sizes = [os.path.getsize(f) for f in files]
        # one line per word the reduce phase produced
        for f in files:
            with open(f, "rb") as fh:
                words += fh.read().count(b"\n")
    add("build.words", words, "count")
    for name in ("write_letter_index", "collect_reference_layout", "write_parquet_index"):
        add(f"sinks.{name}_s", med(f"sinks.{name}"), "s")
    add("sinks.letter_bytes_max", max(sizes), "B")
    add("sinks.letter_bytes_total", sum(sizes), "B")

    # search: per-request cost, its fixed part and scheduling
    add("sinks.lookup_term_ms", med("sinks.lookup_term", 1e3), "ms")
    add("sinks.bloom_candidate_files_ms", med("sinks.bloom_candidate_files", 1e3), "ms")
    for kind in ("term", "absent", "and", "or", "not", "phrase", "prefix"):
        add(f"search.{kind}_ms", med(f"search.{kind}", 1e3), "ms")
    req = tr.by_name("op") if wl.__name__ == "search" else []
    slots = len(os.sched_getaffinity(0))
    add("search.input_mib_per_query", med_of(req, lambda s: s.total("inputBytes") / mib), "MiB")
    add("search.files_read_per_query", med_of(req, lambda s: s.files_read), "count")
    add("search.jobs_per_query", med_of(req, lambda s: s.jobs), "count")
    add("search.tasks_per_query", med_of(req, lambda s: s.total("numTasks")), "count")
    add("search.driver_share",
        med_of(req, lambda s: 1 - s.total("executorRunTime") / 1e3 / (s.wall * slots)), "ratio")

    # curate: plan build vs action per query, and the pass's shuffle and GC
    import curate

    for q in curate.QUERIES:
        add(f"curate.{q}.plan_s", med(f"curate.{q}.plan"), "s")
        add(f"curate.{q}.exec_s", med(f"curate.{q}.exec"), "s")
    passes = tr.by_name("curate.pass")
    add("curate.shuffle_write_mib", med_of(passes, lambda s: s.total("shuffleWriteBytes") / mib), "MiB")
    add("curate.gc_s", med_of(passes, lambda s: s.total("jvmGcTime") / 1e3), "s")

    add("trace.overhead_share", med_of(tr.by_name("op"), lambda s: s.overhead / s.wall), "ratio")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "search", "curate"))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    t_process = time.perf_counter()
    work = os.path.join(root, ".perfbench_work")
    wl = _workload(args.workload)
    inputs, meta = _inputs(work, wl.KIND, args.seed)
    sf = os.path.join(inputs, "sf")
    _environment(root, work, sf)

    def on_alarm(signum, frame):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(max(1, int(DEADLINE_S - (time.perf_counter() - t_process))))

    ctx = Ctx(work=work, seed=args.seed, tracer=Tracer(bool(args.trace)),
              inputs=inputs, meta=meta, sf=sf)
    host = host_record()
    rss = RssSampler()
    try:
        t0 = time.perf_counter()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        from pyspark import SparkContext

        rss.start(SparkContext._gateway.proc.pid)
        # ground truth after the timed set-up, so that set-up pays every
        # import of the program's stack
        wl.prepare(ctx)
        walls: list = []
        outs: list = []
        i, streak = 0, 0
        t_end = time.perf_counter() + args.seconds
        # whole rounds only, so every run measures the same request mix
        while streak < MAX_CONSECUTIVE_FAILURES and (
            i % wl.ROUND or time.perf_counter() < t_end or i < wl.MIN_ROUNDS * wl.ROUND
        ):
            streak = 0 if _run_op(ctx, wl, i, walls, outs) else streak + 1
            i += 1
        ctx.tracer.enabled = False
        host["spark.driver.memory"] = ctx.spark.conf.get("spark.driver.memory")
        host["initialPartitionNum"] = int(ctx.spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
    except Exception as e:
        if not isinstance(e, Deadline):
            traceback.print_exc()
        print(f"perfbench: run abandoned: {e}", file=sys.stderr)
        _shutdown(ctx, rss)
        return 1
    finally:
        signal.alarm(0)
    _shutdown(ctx, rss)
    host["loadavg_end"] = os.getloadavg()
    host["peak_rss_gib"] = rss.peak_bytes / 2**30

    for err in ctx.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    ok = [w for w in walls if w is not None]
    # a round counts only when all its operations succeeded
    rounds = [
        sum(walls[r : r + wl.ROUND])
        for r in range(0, len(walls) - wl.ROUND + 1, wl.ROUND)
        if None not in walls[r : r + wl.ROUND]
    ]
    if not rounds:
        print("perfbench: no round succeeded", file=sys.stderr)
        return 1

    e2e, detail, layers = Metrics(), Metrics(), Metrics()
    e2e_values = {"setup_s": setup_s, "round_p50_ms": median(rounds) * 1e3}
    for name, unit in E2E_UNITS.items():
        e2e.add(name, e2e_values[name], unit)
    detail.add("ops", len(walls), "count")
    detail.add("rounds", len(rounds), "count")
    detail.add("peak_rss_gib", host["peak_rss_gib"], "GiB")
    detail.add("error_rate", ctx.failed / ctx.attempted, "ratio")
    if args.workload == "search":
        # no query_p90_ms: the configured run length gives 54 requests,
        # fewer than the 10 beyond p90 that stats.percentile requires
        detail.add("query_p50_ms", median(ok) * 1e3, "ms")
    wl.report(ctx, outs, detail.add)
    if args.trace:
        _layer_metrics(ctx, wl, outs, layers.add)
        with open(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump([vars(s) | {"stages": [vars(x) for x in s.stages]}
                       for s in ctx.tracer.spans], f)

    print("host " + json.dumps(host, sort_keys=True))
    for group in (e2e, detail, layers):
        for name, m in group.as_dict().items():
            print(f"metric {name} {m['value']:.6g} {m['unit']}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": (layers if args.trace else e2e).as_dict(),
    }
    print(json.dumps(result))
    return 0


def _shutdown(ctx: Ctx, rss: RssSampler) -> None:
    """Stop the session and the JVM, and wait for both."""
    rss.stop()
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
