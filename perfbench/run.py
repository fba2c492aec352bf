"""Benchmark of the KG build (`plans.pipeline.build_kg`), run from the root of
a checkout:

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 15 --trace 0

One process runs one workload as a closed loop with one client: set-up
(session start, then the seeded input stored as parquet three times), one
cold build in the fresh JVM, then one warm build per NOMINAL_BUILD_S of
`--seconds`. Every build's output is checked against the closed form,
untimed.

`--trace 0` prints the end-to-end metrics; `--trace 1` is a separate run
with the layer wrappers and a Spark event log on, and prints the per-layer
metrics. The line before the last is a summary with the raw samples and
the pinned settings; the last line is the result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import inputs
import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_DOCS = 5000  # the corpus: 4,545 page rows and 24,813 triples
SETUP_REPEATS = 3
KERNEL_SAMPLE = 400
# `--seconds` buys one warm build per NOMINAL_BUILD_S (a warm build's wall on
# 4 cores). The count is fixed rather than timed: warm builds still speed up
# as the JIT settles, so a run that fits an extra build would report a lower
# median for that reason alone, and a faster commit would be measured later
# in its warm-up than its parent.
NOMINAL_BUILD_S = 7.5
DRIVER_MEMORY = "6g"
HEADLINE_QUERIES = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "window_top_order_per_customer",
    "events_hourly",
    "dedup_ngram_jaccard",
    "dedup_minhash_pairs",
    "ann_brute_topk",
    "text_token_stats",
    "text_fingerprint",
)
# The query corpus of the traced run: TPC-H-like sf0.01 tables and the
# 500-document text and vector tables of the repo's correctness fixture size.
QUERY_SF, QUERY_DOCS, QUERY_VECS = 0.01, 500, 500


@dataclass(frozen=True)
class Workload:
    padding: int
    why: str


WORKLOADS = {
    "kg_dense": Workload(
        padding=0,
        why="91% of rows are Confluence exports, so the Python convert kernel, Arrow "
        "transport, the edges/nodes shuffles and the parquet sinks carry the build",
    ),
    "kg_sparse": Workload(
        padding=100_000,
        why="100k plain source files around the same corpus (4% Confluence): the JVM "
        "detect pass, the skew census and canon_map's job chain dominate, the kernel idles",
    ),
}


def settings() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "master": f"local[{cores}]",
        "driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": cores,
        "num_partitions": 2 * cores,
        "host_cores": cores,
        "host_mem_gb": round(mem_kb / 2**20, 1),
    }


def pin_environment(work: str) -> None:
    """Keep every run on the same settings whatever the caller's environment:
    drop the overrides the program reads, and keep Spark's and Python's
    scratch files inside the work directory."""
    for key in list(os.environ):
        if key.startswith(("SPARK_GRAFT_", "KG_")):
            del os.environ[key]
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def proc_tree(root: int) -> dict[int, tuple[str, int, float]]:
    """pid -> (command name, RSS kB, CPU seconds) of `root` and all its
    descendants, from /proc."""
    parent, info = {}, {}
    page_kb, hz = os.sysconf("SC_PAGE_SIZE") // 1024, os.sysconf("SC_CLK_TCK")
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
            fields = rest.split()
            parent[int(pid)] = int(fields[1])
            info[int(pid)] = (comm.split("(", 1)[1], int(fields[21]) * page_kb, (int(fields[11]) + int(fields[12])) / hz)
        except (OSError, IndexError, ValueError):
            continue
    tree, grew = {root}, True
    while grew:
        new = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= new
        grew = bool(new)
    return {p: info[p] for p in tree if p in info}


def tree_cpu_s() -> float:
    return sum(cpu for _, _, cpu in proc_tree(os.getpid()).values())


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its descendants,
    so that `reap_children` can wait for them: the JVM's Python workers
    outlive the JVM by a moment."""
    import ctypes

    pr_set_child_subreaper = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def end_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM that PySpark launched and wait for it. `SparkSession.stop`
    leaves it running until this process exits and so closes the JVM's
    stdin; closing stdin here ends it now."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(Exception):
        gateway.close()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until every process started by this one, and by those, has
    ended. Whatever still runs after `grace_s` gets SIGTERM, and SIGKILL
    five seconds later."""
    me, t0 = os.getpid(), time.monotonic()
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        live = set(proc_tree(me)) - {me}
        waited = time.monotonic() - t0
        if not live or waited > grace_s + 10:
            return
        if waited > grace_s:
            sig = signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM
            for pid in live:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers). `peak_kb` is the whole tree; `peak_py_kb`
    leaves out the JVM. Children the JVM spawns for shell commands are left
    out of both: until they exec they share the JVM's memory, and /proc
    reports it again as theirs."""

    def __init__(self, period_s: float = 0.5):
        self.period_s, self.peak_kb, self.peak_py_kb = period_s, 0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            procs = proc_tree(os.getpid()).values()
            py = sum(rss for name, rss, _ in procs if name.startswith("python"))
            total = py + sum(rss for name, rss, _ in procs if name == "java")
            self.peak_kb, self.peak_py_kb = max(self.peak_kb, total), max(self.peak_py_kb, py)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def percentile_with_tail(samples: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    p = int(100 * (n - 10) / n)
    return f"p{p}", statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.name, self.wl = workload, WORKLOADS[workload]
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.cfg = settings()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spark = None

    # -- set-up ------------------------------------------------------------
    def start_session(self):
        from confluence2md_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    # the default zstd codec needs the `zstandard` module
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=self.cfg["master"],
            shuffle_partitions=self.cfg["shuffle_partitions"],
            extra_conf=conf,
        )
        return self.spark

    def stop(self) -> None:
        """Stop the session and end the JVM; safe to call more than once."""
        spark, self.spark = self.spark, None
        if spark is not None:
            with contextlib.suppress(Exception):
                spark.stop()
        end_jvm()

    def store_input(self, tag: str) -> tuple[str, str]:
        base = os.path.join(self.work, tag)
        docs = inputs.write_documents(os.path.join(base, "docs"), N_DOCS, self.seed)
        raw = os.path.join(base, "raw")
        inputs.write_raw_files(docs, raw, self.seed, self.cfg["num_partitions"], padding=self.wl.padding)
        return os.path.dirname(docs), raw

    # -- one build -----------------------------------------------------------
    def build(self, spark, raw_dir: str, i: int, tracer=None):
        """One timed `build_kg` call; returns (wall_s, result, observed counts)
        or None if it raised."""
        from checks import observe_kg
        from confluence2md_spark.plans.pipeline import build_kg

        wh = os.path.join(self.work, f"wh{i}")
        self.attempted += 1
        try:
            cpu0, t0 = tree_cpu_s(), time.monotonic()
            raw = spark.read.parquet(raw_dir)
            res = build_kg(
                spark,
                raw,
                wh,
                run_id=f"b{i}",
                num_partitions=self.cfg["num_partitions"],
                materialize_intermediates=False,
            )
            wall = time.monotonic() - t0
            obs = observe_kg(wh, res)
            obs["cpu_s"] = tree_cpu_s() - cpu0
            if tracer is not None:
                obs["catalog"] = {t: _dir_stats(os.path.join(wh, t)) for t in ("pages", "edges", "nodes")}
            return wall, res, obs
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def check_builds(self, docs_dir: str, observed: list[dict]) -> dict:
        from checks import expected_kg, kg_mismatches

        exp = expected_kg(docs_dir)
        for obs in observed:
            bad = kg_mismatches(obs, exp)
            if bad:
                self.failed += 1
                self.errors.append("; ".join(bad))
        return exp

    # -- untraced run: end-to-end metrics ------------------------------------
    def run_untraced(self) -> tuple[dict, dict]:
        t0 = time.monotonic()
        spark = self.start_session()
        session_s = time.monotonic() - t0
        store_s, dirs = [], []
        for i in range(SETUP_REPEATS):
            t = time.monotonic()
            dirs.append(self.store_input(f"in{i}"))
            store_s.append(time.monotonic() - t)
        docs_dir, raw_dir = dirs[0]
        for d, _ in dirs[1:]:
            shutil.rmtree(os.path.dirname(d), ignore_errors=True)
        setup_s = session_s + statistics.median(store_s)

        n_warm = max(1, round(self.seconds / NOMINAL_BUILD_S))
        with RssSampler() as rss:
            first = self.build(spark, raw_dir, 0)
            results = [self.build(spark, raw_dir, i) for i in range(1, n_warm + 1)]
        self.stop()
        done = [r for r in results if r is not None]
        exp = self.check_builds(docs_dir, [r[2] for r in [first, *done] if r is not None])
        if first is None or not done:
            raise RuntimeError("no build completed:\n" + "\n".join(self.errors))

        walls = [w for w, _, _ in done]
        build_s = statistics.median(walls)
        tail = percentile_with_tail(walls)
        last = done[-1][2]
        summary = {
            "build_first_s": first[0],
            "build_s": build_s,
            "build_samples_s": walls,
            "build_cpu_s": [first[2]["cpu_s"]] + [r[2]["cpu_s"] for r in done],
            "build_tail": {"n": len(walls), "percentile": tail[0], "s": tail[1]} if tail else {"n": len(walls), "max_s": max(walls)},
            "triples_per_s": last["edges_total"] / build_s,
            "pages": last["pages_rows"],
            "triples": last["edges_total"],
            "expected": {"pages": exp["expected_pages_rows"], "triples": exp["expected_edges_total"]},
            "stage_wall_s": {k: statistics.median(r.stage_wall_s[k] for _, r, _ in done) for k in done[0][1].stage_wall_s},
            "setup": {"session_s": session_s, "store_s": store_s},
        }
        metrics = {
            "setup_s": (setup_s, "s"),
            "build_first_s": (first[0], "s"),
            "build_s": (build_s, "s"),
            "triples_per_s": (summary["triples_per_s"], "1/s"),
            "peak_py_rss_mb": (rss.peak_py_kb / 1024, "MB"),
        }
        # The JVM's share grows with G1's heap sizing, which differs from run
        # to run on the same input (2.4-5.3 GB measured), so the whole-tree
        # peak is reported here but not bounded.
        summary["peak_rss_mb"] = rss.peak_kb / 1024
        return metrics, summary

    # -- traced run: per-layer metrics ---------------------------------------
    def run_traced(self) -> tuple[dict, dict]:
        import kernel

        spark = self.start_session()
        jvm = spark.sparkContext._jvm
        docs_dir, raw_dir = self.store_input("in0")
        qdir = os.path.join(self.work, "queries")
        inputs.write_query_corpus(qdir, QUERY_SF, self.seed, QUERY_DOCS, QUERY_VECS)
        tracer = tr.Tracer(spark.sparkContext)

        def gc_s() -> float:
            beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            return sum(b.getCollectionTime() for b in beans) / 1000

        def traced_build(i: int):
            with tracer.wrapped_layers(), tracer.span("build") as root:
                gc0 = gc_s()
                out = self.build(spark, raw_dir, i, tracer=tracer)
                gc = gc_s() - gc0
            return root, out, gc

        # untraced, traced, untraced: the warm builds still speed up as the
        # JIT settles, so the traced one is compared with the mean of its
        # neighbours
        cold_root, cold, _ = traced_build(0)
        untraced = [self.build(spark, raw_dir, 1)]
        root, warm, gc = traced_build(2)
        untraced.append(self.build(spark, raw_dir, 3))
        builds = [b for b in (cold, warm, *untraced) if b is not None]
        if len(builds) < 4:
            raise RuntimeError("a build failed:\n" + "\n".join(self.errors))
        self.check_builds(docs_dir, [b[2] for b in builds])

        import __spark_entry__ as entry
        from checks import query_checker

        qs, check = entry.queries(), query_checker(qdir)
        order = _seeded_order(HEADLINE_QUERIES, self.seed)
        for name in order:  # checked once, untimed; also warms the JVM
            self.attempted += 1
            try:
                bad = check(spark, name)
            except Exception:
                bad = [traceback.format_exc(limit=3)]
            if bad:
                self.failed += 1
                self.errors.extend(bad)
        with tracer.span("sweep") as sweep:
            for name in order:
                self.attempted += 1
                try:
                    with tracer.span(f"query.{name}"):
                        qs[name](spark, qdir).write.format("noop").mode("overwrite").save()
                except Exception:
                    self.failed += 1
                    self.errors.append(traceback.format_exc(limit=3))

        rows = kernel.sample(raw_dir, self.seed, KERNEL_SAMPLE)
        core = kernel.measure(rows)
        self.stop()

        groups, jobs = tr.fold_event_log(tr.read_event_log(self.event_dir))
        spans = tracer.subtree(root["id"])
        lost = {
            "cold_build": tr.unattributed_jobs(tracer.subtree(cold_root["id"]), jobs, cold_root),
            "build": tr.unattributed_jobs(spans, jobs, root),
            "sweep": tr.unattributed_jobs(tracer.subtree(sweep["id"]), jobs, sweep),
        }
        if any(lost.values()):
            self.failed += 1
            self.errors.append(f"jobs outside any span: {lost}")
        cold_py = tr.span_totals(groups, tracer.subtree(cold_root["id"]), "catalog.pages.write")
        m = layer_metrics(groups, spans, warm, gc, cold_py)
        m.update({k: (v, "us" if k.endswith("_us") else "count") for k, v in core.items()})
        for name in HEADLINE_QUERIES:
            q = tr.span_totals(groups, tracer.subtree(sweep["id"]), f"query.{name}")
            m[f"query.{name}_s"] = (q["wall_s"], "s")
            m[f"query.{name}_jobs"] = (q["jobs"], "count")
            m[f"query.{name}_shuffle_bytes"] = (q["shuffle_write_bytes"], "B")
        m["query.sweep_s"] = (sweep["end"] - sweep["start"], "s")
        m["trace.overhead_s"] = (warm[0] - statistics.mean(b[0] for b in untraced), "s")
        summary = {
            "traced_build_s": warm[0],
            "untraced_build_s": [b[0] for b in untraced],
            "cold_traced_build_s": cold[0],
            "kernel_sample": {"n": len(rows), "expected_status": kernel.expected_statuses(rows["doc_id"])},
            "spans": len(tracer.spans),
            "build_jobs": sum(1 for j in jobs if root["start"] * 1000 <= j["submit_ms"] <= root["end"] * 1000),
            "unattributed_jobs": lost,
        }
        return m, summary


def _seeded_order(names, seed: int) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def _dir_stats(path: str) -> dict:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}


def layer_metrics(groups: dict, spans: list[dict], build, gc_s: float, cold_pages: dict) -> dict:
    """Per-layer metrics of one traced warm build, from its spans and the
    folded event log."""
    wall, res, obs = build
    tot = {name: tr.span_totals(groups, spans, name) for name in {s["name"] for s in spans}}
    pages, census, canon = tot["catalog.pages.write"], tot["census"], tot["canon_map"]
    m = {f"stage.{k}_s": (v, "s") for k, v in res.stage_wall_s.items()}
    m.update(
        {
            "census.wall_s": (census["wall_s"], "s"),
            "census.jobs": (census["jobs"], "count"),
            "census.task_cpu_s": (census["task_cpu_ns"] / 1e9, "s"),
            "convert.rows_to_python": (pages["py_rows"], "count"),
            "convert.py_bytes_sent": (pages["py_bytes_sent"], "B"),
            "convert.py_bytes_received": (pages["py_bytes_received"], "B"),
            "convert.py_boot_s": (cold_pages["py_boot_ms"] / 1000, "s"),
            "convert.py_init_s": (pages["py_init_ms"] / 1000, "s"),
            "convert.py_run_s": (pages["py_run_ms"] / 1000, "s"),
            "pages.task_cpu_s": (pages["task_cpu_ns"] / 1e9, "s"),
            "pages.gc_s": (pages["gc_ms"] / 1000, "s"),
            "canon_map.wall_s": (canon["wall_s"], "s"),
            "canon_map.jobs": (canon["jobs"], "count"),
            "canon_map.tasks": (canon["tasks"], "count"),
            "canon_map.task_run_s": (canon["task_run_ms"] / 1000, "s"),
            "canon_map.shuffle_write_bytes": (canon["shuffle_write_bytes"], "B"),
        }
    )
    for table in ("edges", "nodes"):
        t = tot[f"catalog.{table}.write"]
        m.update(
            {
                f"{table}.jobs": (t["jobs"], "count"),
                f"{table}.task_cpu_s": (t["task_cpu_ns"] / 1e9, "s"),
                f"{table}.gc_s": (t["gc_ms"] / 1000, "s"),
                f"{table}.shuffle_read_bytes": (t["shuffle_read_bytes"], "B"),
                f"{table}.shuffle_write_bytes": (t["shuffle_write_bytes"], "B"),
                f"{table}.spill_bytes": (t["spill_bytes"], "B"),
            }
        )
    for table in ("pages", "edges", "nodes"):
        m[f"catalog.{table}.bytes_written"] = (obs["catalog"][table]["bytes"], "B")
        m[f"catalog.{table}.files"] = (obs["catalog"][table]["files"], "count")
        m[f"catalog.{table}.write_s"] = (tot[f"catalog.{table}.write"]["wall_s"], "s")
    m["jvm.gc_s"] = (gc_s, "s")
    m["tasks.failed"] = (sum(groups.get(s["group"], {}).get("tasks_failed", 0) for s in spans), "count")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # every way out, SIGTERM included, stops the JVM and waits for all
    # descendants before the work directory goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_environment(work)
    sys.path.insert(0, ROOT)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics, summary = bench.run_traced() if args.trace else bench.run_untraced()
    finally:
        bench.stop()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    summary.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "settings": bench.cfg,
            "error_rate": bench.failed / max(bench.attempted, 1),
            "errors": bench.errors,
        }
    )
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
