"""The program under test, hosted in its own process.

``run.py`` launches ``python3 -m perfbench.program`` and drives it over
stdin/stdout with one JSON command per line; every reply is one stdout
line prefixed with ``@@PB`` (anything else on stdout is Spark's and is
ignored). The process owns the SparkSession and, for the log
workloads, an ``Engine`` served by ``HttpLogServer`` — the served edge
the clients in ``run.py`` talk to over HTTP — and a tail consumer
thread running ``Engine.consume_iter`` that reads an ingest episode
back. For the pipeline workload it runs the declared query functions
and reports walls and Spark's own counters. Peak RSS is sampled by the
launcher over this process and its descendants (the JVM and its Python
workers).

Commands: ``open_log``, ``close_log``, ``trace``, ``queries``, ``exit``.
"""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import threading
import time

from perfbench.payloads import preload_values
from perfbench.tracer import Tracer, install, write_spans

SUBJECT = "root"


def cores() -> int:
    """Local Spark parallelism: the machine's cores, at most 4, so the
    figures compare across machines of different sizes."""
    return max(1, min(len(os.sched_getaffinity(0)), 4))


def descendants(pid: int) -> list[tuple[int, int, str]]:
    """(pid, parent pid, command) of every live process below ``pid``,
    from /proc."""
    children: dict[int, list[tuple[int, int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        ppid = int(tail.split()[1])
        children.setdefault(ppid, []).append((int(entry), ppid, head.split("(", 1)[1]))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += [k[0] for k in kids]
    return out


def tree_rss_kb(pid: int) -> int:
    """RSS summed over the program's processes, in KiB: ``pid``, its
    JVM and the Python workers below it. Helpers the JVM forks for a
    moment (``chmod``, ``readlink``) are left out: until they exec they
    report the JVM's whole RSS again, about 700 MB, so a sample that
    caught one read 25% high."""
    tree = descendants(pid)
    jvms = {p for p, parent, _ in tree if parent == pid}
    total = 0
    for p in [pid, *(p for p, parent, cmd in tree if p in jvms or cmd.startswith("python"))]:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark and wait until the JVM and every Python worker this
    process started have exited; whatever outlives the timeout is
    killed."""
    from pyspark import SparkContext

    pids = [p for p, _, _ in descendants(os.getpid())]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while (alive := [p for p in pids if _running(p)]) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass  # exited since the last look


class PeakRss:
    """Samples the total RSS of the program rooted at ``pid`` every
    0.2 s. It runs in the launcher, so a sample (a walk over /proc, a
    few ms) never holds the program's interpreter. A worker that lives
    and dies between two samples is missed, so the figure is a lower
    bound on the true peak."""

    def __init__(self, pid: int) -> None:
        self.pid, self.peak_kb = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.pid))

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return max(self.peak_kb, tree_rss_kb(self.pid)) / 1024.0


class LogHost:
    """One served log: Engine + HttpLogServer, read back at the end by a
    tail consumer."""

    def __init__(self, spark, path: str, bucket_size: int, preload: int, seed: int):
        from proglog_spark.engine import Engine
        from proglog_spark.server import HttpLogServer

        self.spark = spark
        self.path = path
        self.engine = Engine.create(spark, path, bucket_size=bucket_size)
        for lo in range(0, preload, bucket_size):
            hi = min(preload, lo + bucket_size)
            self.engine.produce(SUBJECT, preload_values(seed, lo, hi))
        self.server = HttpLogServer(self.engine)
        self.port = self.server.start()[1]
        self.jobs_at_open = _job_count(spark)
        self.deliveries: list[tuple[int, str, float]] = []

    def close(self, consume_through: int | None, timeout_s: float = 20.0) -> dict:
        """Stop serving; then, if ``consume_through`` is given, read the
        log back from offset 0 with a tail consumer (``consume_iter``)
        until that offset is delivered, timing the catch-up."""
        self.server.stop()
        consume_s = 0.0
        if consume_through is not None:
            stop = threading.Event()
            it = self.engine.consume_iter(SUBJECT, 0, stop=stop)

            def run() -> None:
                for off, value, _, _ in it:
                    self.deliveries.append((off, value, time.monotonic()))

            t0 = time.monotonic()
            consumer = threading.Thread(target=run, daemon=True)
            consumer.start()
            deadline = t0 + timeout_s
            while time.monotonic() < deadline and (
                not self.deliveries or self.deliveries[-1][0] < consume_through
            ):
                time.sleep(0.005)
            if self.deliveries:
                consume_s = self.deliveries[-1][2] - t0
            stop.set()
            consumer.join(timeout=5)
        jobs = _job_count(self.spark) - self.jobs_at_open
        self.engine.log.close()
        return {
            "deliveries": self.deliveries,
            "consume_s": consume_s,
            "spark_jobs": jobs,
            "storage": storage_stats(self.path),
        }


def _job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def storage_stats(path: str) -> dict:
    """Counted from outside: committed parquet files and their bytes,
    and the files in the highest bucket (the compaction signal)."""
    files = nbytes = tail_files = 0
    tail_bucket = -1
    for entry in os.listdir(path):
        if not entry.startswith("bucket="):
            continue
        bdir = os.path.join(path, entry)
        names = [
            f for f in os.listdir(bdir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        files += len(names)
        nbytes += sum(os.path.getsize(os.path.join(bdir, f)) for f in names)
        b = int(entry.split("=", 1)[1])
        if b > tail_bucket:
            tail_bucket, tail_files = b, len(names)
    return {"files": files, "bytes": nbytes, "tail_bucket_files": tail_files}


# -- pipeline ----------------------------------------------------------------

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")


def _exchanges(df) -> int:
    """Exchange nodes in the returned DataFrame's final physical plan
    (AQE prints its initial plan too; only the final one counts)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(plan))


def _plan_ms(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0.0
    while phases.hasNext():
        kv = phases.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs()
    return total


class StreamStats:
    """``StreamingQueryListener`` collecting per-query micro-batch
    progress — the engine's own monitoring surface. Progress is keyed
    by run id, attributed to whichever declared query started it."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.current = ""
        self.owner: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = {}
        self.started = self.terminated = 0
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                with outer._lock:
                    outer.owner[str(event.runId)] = outer.current
                    outer.started += 1

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                rec = {
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "addbatch_ms": p.durationMs.get("addBatch", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
                with outer._lock:
                    outer.progress.setdefault(str(p.runId), []).append(rec)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                with outer._lock:
                    outer.terminated += 1

        self.listener = _Listener()

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until every started streaming query's events arrived."""
        deadline = time.monotonic() + timeout_s
        while self.started != self.terminated and time.monotonic() < deadline:
            time.sleep(0.02)

    def for_query(self, name: str) -> dict:
        with self._lock:
            runs = [self.progress.get(r, []) for r, q in self.owner.items() if q == name]
        return {
            "batches": sum(len(r) for r in runs),
            "trigger_s": sum(b["trigger_ms"] for r in runs for b in r) / 1000.0,
            "addbatch_s": sum(b["addbatch_ms"] for r in runs for b in r) / 1000.0,
            "state_rows": sum(r[-1]["state_rows"] for r in runs if r),
        }


class Pipeline:
    """Runs declared queries one at a time. With ``counting`` on (traced
    runs only) it registers the streaming listener and, after each
    query's timer stops, reads that query's jobs, stages, plan and
    micro-batches from Spark's status store."""

    def __init__(self, spark, counting: bool) -> None:
        from proglog_spark import queries

        self.spark = spark
        self.q = queries
        self.fns = queries.queries()
        self.counting = counting
        self.status = spark.sparkContext._jsc.sc().statusStore()
        self.last_job = -1
        self.stream = StreamStats()
        if counting:
            spark.streams.addListener(self.stream.listener)
            self._new_jobs()

    def _new_jobs(self) -> list[tuple[int, str, list[int]]]:
        """(job id, job group, stage ids) of every job since the last
        call; ``jobsList`` is newest first, so only new entries are read."""
        jobs, out = self.status.jobsList(None), []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                break
            g = j.jobGroup()
            stages = j.stageIds()
            out.append(
                (j.jobId(), g.get() if g.isDefined() else "",
                 [stages.apply(k) for k in range(stages.size())])
            )
        if out:
            self.last_job = out[0][0]
        return out

    def _stage_totals(self, stage_ids) -> dict:
        tot = dict(stages=0, tasks=0, exec_run_s=0.0, exec_cpu_s=0.0,
                   gc_s=0.0, shuffle_read_bytes=0, shuffle_write_bytes=0)
        for sid in sorted(set(stage_ids)):
            try:
                sd = self.status.lastStageAttempt(sid)
            except Exception:  # py4j: evicted or never-run stage
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["exec_run_s"] += sd.executorRunTime() / 1e3
            tot["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return tot

    def run(self, sf_dir: str, names: list[str], outputs: bool, groups: bool) -> list[dict]:
        """One pass: each query timed from the call of its function to
        the end of ``collect()``, after clearing cached data and value
        memos. ``groups`` puts the function call and the collect in two
        job groups, splitting build-time jobs from execution jobs."""
        from perfbench.checks import norm_value

        sc = self.spark.sparkContext
        out = []
        for name in names:
            self.spark.catalog.clearCache()
            self.q.clear_value_memos()
            if self.counting:
                self.stream.settle()
                self._new_jobs()
                self.stream.current = name
            if groups:
                sc.setJobGroup(f"{name}#build", name)
            t0 = time.perf_counter()
            df = self.fns[name](self.spark, sf_dir)
            t1 = time.perf_counter()
            if groups:
                sc.setJobGroup(f"{name}#exec", name)
            rows = df.collect()
            t2 = time.perf_counter()
            if groups:
                sc._jsc.clearJobGroup()
            rec = {"name": name, "wall_s": t2 - t0}
            if self.counting:
                self.stream.settle()
                jobs = self._new_jobs()
                rec.update(
                    jobs=len(jobs),
                    plan_ms=_plan_ms(df),
                    exchanges=_exchanges(df),
                    **self._stage_totals([s for _, _, st in jobs for s in st]),
                    **self.stream.for_query(name),
                )
                if groups:
                    rec["build_s"], rec["exec_s"] = t1 - t0, t2 - t1
                    rec["jobs_exec"] = sum(1 for _, g, _ in jobs if g == f"{name}#exec")
                    rec["jobs_build"] = rec["jobs"] - rec["jobs_exec"]
            if outputs:
                rec["cols"] = list(df.columns)
                rec["dtypes"] = dict(df.dtypes)
                rec["rows"] = [[norm_value(v) for v in r] for r in rows]
            out.append(rec)
        return out


# -- command loop --------------------------------------------------------------


def reply(obj) -> None:
    sys.stdout.write("@@PB " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> None:
    from proglog_spark.session import build_session

    workdir, traced = sys.argv[1], sys.argv[2] == "1"
    tracer = Tracer()
    if traced:
        install(tracer)  # wrappers record only while a run enables them
    n = cores()
    spark = build_session(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    host: LogHost | None = None
    pipeline: Pipeline | None = None
    reply({"ready": True})
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "open_log":
            host = LogHost(spark, cmd["path"], cmd["bucket_size"], cmd["preload"], cmd["seed"])
            reply({"port": host.port})
        elif op == "close_log":
            res = host.close(cmd["consume_through"])
            spans = tracer.take()
            if spans:
                write_spans(cmd["spans_path"], spans)
            res["spans"] = len(spans)
            reply(res)
            host = None
        elif op == "trace":
            tracer.enabled = bool(cmd["on"])
            reply({"on": tracer.enabled})
        elif op == "queries":
            if pipeline is None:
                pipeline = Pipeline(spark, counting=traced)
            reply({"results": pipeline.run(cmd["sf_dir"], cmd["names"], cmd["outputs"], cmd["groups"])})
        elif op == "exit":
            break
    shutdown(spark)


if __name__ == "__main__":
    main()
