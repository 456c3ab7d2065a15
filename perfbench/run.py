#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (perfbench/build.sbt, which depends on the root
build),
computes the query oracles' results once (they depend only on the fixed
tables) and keeps both under .bench_build/; later runs reuse them while
the sources are unchanged.

Workloads (single-process closed loop, one client, Spark at
local[<usable cores>]):

- etl_cdc_load: a seeded, reference-shaped CDC corpus (cdc_corpus.py)
  through both reference DAGs into a fresh PostgreSQL 15 server: one
  backfill run per table over 10 files, then 21 more files arriving one
  by one, with an events run every 3 files and a tracking run every 5
  (12 incremental runs), then the README queries in PostgreSQL after
  each phase. This is fixed work that takes about 20 s on a 4-core host.
- query_surface: the first query, by name, of every operator module (9
  queries) over the fixed, read-only sf0.1 tables
  (PERFBENCH_DATA, default /root/testdata/sf0.1), in name order. Memos
  are evicted before every pass; passes repeat until --seconds have
  elapsed, at least one. The seed picks which third of the queries'
  oracle rows the run checks.

End-to-end metrics (tracing off), the same names on every workload:

- setup_s: JVM + SparkSession start, the session's first job and the
  page-cache warm-up, plus corpus generation and PostgreSQL initdb/start on
  etl_cdc_load.
- pass_s: etl_cdc_load, wall time of the two backfill DAG runs;
  query_surface, median wall time of one pass over its queries.
- op_mean_s: mean latency of one operation: an incremental DAG run
  (watermark probe to committed rows) on etl_cdc_load, one query on
  query_surface. Percentiles of these few samples (12 runs, 9
  queries) spread too much between seeds to carry a bound; the report
  line gives p50/p75/p90 with their sample counts.
- peak_rss_mb: the benchmark JVM's VmHWM after the timed region.
- pass_ratio: 1 - (failed or oracle-mismatched operations) / attempted.

With --trace 1 the same loop runs with spans and a SparkListener, and the
result carries the per-layer metrics. Every run first prints a JSON
report line: host, settings, the workload's own figures (the paper's
rows/s, per-run and per-query latencies, excluded and unverified
queries), and in traced runs every per-layer figure and the spans' self
times.

Every output is checked against DuckDB (oracle.py) outside the timed
region; a mismatch sets "correct" to false and counts in pass_ratio.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ORACLE_CACHE = os.path.join(BUILD, "oracle")
WORKLOADS = ("etl_cdc_load", "query_surface")
PG_BIN = "/usr/lib/postgresql/15/bin"
BACKFILL_FILES = 10
INCREMENTAL_FILES = 21  # 7 events runs + 5 tracking runs
PG_SETTINGS = ["fsync=off", "synchronous_commit=off", "shared_buffers=128MB",
               "autovacuum=on", "timezone=UTC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                 os.path.join(ROOT, "project", "build.properties"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(data_dir):
    """Compile the engine and the benchmark and compute the oracle results
    of query_surface; return the class path."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["hash"] == digest:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true "
                        "-Dsbt.repository.config=" +
                        os.path.expanduser("~/.sbt/repositories") +
                        " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env,
            timeout=840).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines or "target" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}", 3)
    classpath = lines[-1]
    if os.path.isfile(os.path.join(data_dir, "lineitem.parquet")):
        import oracle
        listing = os.path.join(BUILD, "oracles.json")
        subprocess.run(java_cmd(classpath, BUILD, 2) + ["--oracles", listing],
                       check=True, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=300)
        with open(listing) as f:
            for name, sql in sorted(json.load(f).items()):
                oracle.expected(name, sql, data_dir, ORACLE_CACHE)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    return classpath


def host_stamp():
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {"nproc": os.cpu_count(), "cores_used": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 1048576, 1), "loadavg": []}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    """A throwaway PostgreSQL 15 cluster inside the run directory, started
    the way the test suite's PgServerFixture does (initdb + pg_ctl, TCP
    on a free localhost port). Postgres refuses to run as root; as root
    the server runs as the `postgres` user, with just the file-access
    capabilities it needs to reach a data directory inside a checkout
    that only root may enter."""

    def __init__(self, data_dir):
        self.data_dir = data_dir
        self.port = free_port()
        self.running = False

    def _cmd(self, args):
        if os.geteuid() != 0:
            return args
        caps = "+dac_override,+dac_read_search"
        return ["setpriv", "--reuid=postgres", "--regid=postgres",
                "--init-groups", f"--inh-caps={caps}",
                f"--ambient-caps={caps}"] + args

    def _run(self, args):
        p = subprocess.run(self._cmd(args), capture_output=True, text=True,
                           timeout=60)
        if p.returncode != 0:
            raise RuntimeError(f"{args[0]} failed: {p.stdout}{p.stderr}")

    def start(self):
        self._run([f"{PG_BIN}/initdb", "-D", self.data_dir, "-A", "trust",
                   "-U", "postgres", "-E", "UTF8", "--locale=C", "--no-sync"])
        opts = (f"-p {self.port} -c listen_addresses=127.0.0.1 "
                "-c unix_socket_directories='' " +
                " ".join(f"-c {s}" for s in PG_SETTINGS))
        self._run([f"{PG_BIN}/pg_ctl", "-D", self.data_dir, "-w", "-o", opts,
                   "-l", os.path.join(self.data_dir, "server.log"), "start"])
        self.running = True

    def stop(self):
        if self.running:
            self._run([f"{PG_BIN}/pg_ctl", "-D", self.data_dir, "-m", "fast",
                       "-w", "stop"])
            self.running = False


def heap_gb():
    return max(2, min(4, int(host_stamp()["ram_gb"] // 4)))


def java_cmd(classpath, work, heap):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap size, so the peak RSS does not follow heap resizing
    return (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"] +
            [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", classpath, "perfbench.Main"])


def run_jvm(classpath, work, jvm_args, deadline):
    cmd = java_cmd(classpath, work, heap_gb()) + jvm_args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("the JVM did not finish in time")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        kept = os.path.join(BUILD, "failed-jvm.log")
        shutil.copy(os.path.join(work, "jvm.log"), kept)
        raise RuntimeError(f"the JVM exited with {rc}; its log is in {kept}")
    shutil.copy(os.path.join(work, "jvm.json"), os.path.join(BUILD, "last-jvm.json"))
    with open(os.path.join(work, "jvm.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # the PostgreSQL server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    deadline = start + 170

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src/main; run from a checkout")
    data_dir = os.environ.get("PERFBENCH_DATA", "/root/testdata/sf0.1")
    if a.workload != "etl_cdc_load" and not os.path.isfile(
            os.path.join(data_dir, "lineitem.parquet")):
        fail(f"missing query input tables under {data_dir}")
    if a.workload == "etl_cdc_load" and not os.path.isfile(f"{PG_BIN}/initdb"):
        fail(f"no PostgreSQL 15 under {PG_BIN}")

    classpath = build(data_dir)
    deadline = max(deadline, time.monotonic() + 160)
    host = host_stamp()
    cores = host["cores_used"]
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host["loadavg"].append(loadavg())
    pg = None
    setup_py = 0.0
    try:
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--cores", str(cores), "--out", work, "--data", data_dir]
        if a.workload == "etl_cdc_load":
            import cdc_corpus
            t0 = time.monotonic()
            corpus = os.path.join(work, "corpus")
            names, corpus_stats = cdc_corpus.generate(
                corpus, a.seed, BACKFILL_FILES + INCREMENTAL_FILES)
            if not names or not os.listdir(corpus):
                fail("the generated corpus is empty", 4)
            with open(os.path.join(corpus, "manifest.txt"), "w") as f:
                f.write("\n".join(names) + "\n")
            pg = Postgres(os.path.join(work, "pg"))
            pg.start()
            setup_py = time.monotonic() - t0
            jvm_args += ["--corpus", corpus, "--backfill", str(BACKFILL_FILES),
                         "--pg-port", str(pg.port)]
        jvm = run_jvm(classpath, work, jvm_args, deadline)
        if pg:
            pg.stop()
        host["loadavg"].append(loadavg())

        import oracle
        c0 = time.monotonic()
        oracle_s = {}
        mismatches, checked = [], 0
        if a.workload == "etl_cdc_load":
            mismatches, checked = oracle.check_etl(
                jvm["etl_check"], jvm["etl_oracle_sql"], corpus)
        else:
            for name, sql in sorted(jvm["oracle_checks"].items()):
                q0 = time.monotonic()
                why = oracle.check_query(name, sql, data_dir,
                                         os.path.join(work, "dump"), ORACLE_CACHE)
                oracle_s[name] = time.monotonic() - q0
                checked += 1
                if why:
                    mismatches.append(f"{name}: {why}")
        check_s = time.monotonic() - c0
    finally:
        if pg:
            pg.stop()
        shutil.rmtree(work, ignore_errors=True)

    attempted = int(jvm["attempted"])
    failed = int(jvm["failed"]) + len(mismatches)
    e2e = dict(jvm["e2e"])
    e2e["setup_s"] = setup_py + jvm["jvm_setup_s"]
    e2e["pass_ratio"] = 1.0 - failed / attempted
    e2e["fail_ratio"] = failed / attempted
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "host": host,
        "settings": {"spark_master": f"local[{cores}]", "jvm_heap_gb": heap_gb(),
                     "spark_conf": jvm["spark_conf"],
                     "postgres": PG_SETTINGS if a.workload == "etl_cdc_load" else None},
        "end_to_end": e2e, "workload_figures": jvm["detail"],
        "checked": checked, "mismatches": mismatches, "check_s": check_s,
        "oracle_s": oracle_s,
        "setup": {"python_s": setup_py, "jvm_s": jvm["jvm_setup_s"]},
    }
    if a.workload == "etl_cdc_load":
        report["corpus"] = corpus_stats
    if a.trace:
        report["layers"] = jvm["layers"]
        report["spans"] = jvm["spans"]
    values, listed = ((jvm["layers"], spec["per_layer"]) if a.trace
                      else (e2e, spec["end_to_end"]))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in listed}
    print(json.dumps(report))
    print(json.dumps({"correct": not mismatches and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
