#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: scan_publish, query_tabular, query_llm, stream_stateful (see
perfbench/README.md). The first run in a checkout builds the program and
the benchmark with sbt into `target/` and `perfbench/target/`, packs the
compiled classes as jars and caches the classpath in `.bench_build/`, and
makes a class-data-sharing archive there from one query_tabular run. Each run then starts one JVM that sets up
the workload, runs the untimed checks and the timed closed loop, and
writes a result file; this script adds the DuckDB oracle checks of the
query workloads and prints, as its last line, one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`. The exit code is 0
only when every check passed.

scan_publish starts its own PostgreSQL 15 server in `.bench_build/` on a
free port (fsync=on, synchronous_commit=on, shared_buffers=128MB) and
stops it at exit.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
FIXTURE = os.path.join(BENCH, "fixture", "sf0.01")
# query_llm reads the text tables at sf0.1, so the kernels do the work
TEXT_FIXTURE = os.path.join(BENCH, "fixture", "sf0.1-text")
PG_BIN = "/usr/lib/postgresql/15/bin"
PG_CONF = {"fsync": "on", "synchronous_commit": "on",
           "shared_buffers": "128MB"}
WORKLOADS = ("scan_publish", "query_tabular", "query_llm", "stream_stateful")
RUN_LIMIT_S = 170
JVM_HEAP = "2g"
# a fixed heap and the throughput collector: resident memory and pause
# times then depend on the workload, not on how G1 sizes its regions
JVM_FLAGS = [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC"]


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def sources_mtime():
    """Newest modification time over the build inputs."""
    newest = 0.0
    for top in ("build.sbt", "project", "src", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            newest = max(newest, os.path.getmtime(path))
        for d, dirs, files in os.walk(path):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                if f.endswith((".scala", ".sbt", ".java", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(deadline):
    """Compile the program and the benchmark once per checkout; return
    the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= sources_mtime():
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=max(60, deadline - time.time()))
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "perfbench" not in cp:
        sys.stderr.write("".join(x + "\n" for x in lines[-30:]))
        fail("build failed")
    # class-data sharing (class_archive) maps classes from jars only, so
    # the compiled class directories go on the classpath as jars
    entries = cp.split(os.pathsep)
    for i, entry in enumerate(entries):
        if os.path.isdir(entry):
            entries[i] = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(entries[i], "w") as jar:
                for d, _, files in os.walk(entry):
                    for f in files:
                        path = os.path.join(d, f)
                        jar.write(path, os.path.relpath(path, entry))
    cp = os.pathsep.join(entries)
    with open(stamp, "w") as f:
        f.write(cp + "\n")
    return cp


def java(cp, work, args, flags=()):
    """The engine JVM's command line: `perfbench.Main` with `args`."""
    return (["java"] + JVM_FLAGS + list(flags) +
            ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}"] +
            [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-cp", cp, "perfbench.Main"] + args)


def class_archive(cp, deadline):
    """A class-data-sharing archive of the classes one query_tabular run
    loads, made once per build. Every run maps it instead of loading and
    verifying those classes from the jars, which shortens the cold part
    of each run."""
    jsa = os.path.join(BUILD, "classes.jsa")
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(jsa) and os.path.getmtime(jsa) >= os.path.getmtime(stamp):
        return jsa
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    args = ["--workload", "query_tabular", "--seed", "0", "--seconds", "0",
            "--trace", "0", "--out", os.path.join(train, "out"),
            "--fixture", FIXTURE]
    with open(os.path.join(BUILD, "train.log"), "w") as out:
        r = subprocess.run(
            java(cp, train, args, [f"-XX:ArchiveClassesAtExit={jsa}"]),
            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=max(60, deadline - time.time()))
    shutil.rmtree(train, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(jsa):
        fail("class archive run failed; see .bench_build/train.log")
    return jsa


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    """A private PostgreSQL server in a temporary data directory."""

    def __init__(self, base):
        self.dir = os.path.join(base, "pg")
        self.port = free_port()
        self.proc = None
        # the server refuses to run as root: run it as `postgres`, with
        # the capabilities to reach a data directory under a private home
        self.prefix = []
        if os.geteuid() == 0:
            self.prefix = [
                "setpriv", "--reuid=postgres", "--regid=postgres",
                "--init-groups",
                "--inh-caps=+dac_read_search,+dac_override",
                "--ambient-caps=+dac_read_search,+dac_override"]

    def start(self):
        os.makedirs(self.dir)
        if self.prefix:
            shutil.chown(self.dir, "postgres", "postgres")
        data = os.path.join(self.dir, "data")
        log = open(os.path.join(self.dir, "server.log"), "w")
        subprocess.run(self.prefix + [
            f"{PG_BIN}/initdb", "-D", data, "-U", "postgres",
            "--auth=trust", "-E", "UTF8", "--no-sync"],
            stdout=log, stderr=subprocess.STDOUT, check=True,
            cwd=self.dir, timeout=60)
        args = [f"{PG_BIN}/postgres", "-D", data, "-p", str(self.port),
                "-c", "listen_addresses=127.0.0.1",
                "-c", "unix_socket_directories="]
        for k, v in PG_CONF.items():
            args += ["-c", f"{k}={v}"]
        self.proc = subprocess.Popen(self.prefix + args, stdout=log,
                                     stderr=subprocess.STDOUT, cwd=self.dir)
        deadline = time.time() + 30
        while time.time() < deadline:
            r = subprocess.run([f"{PG_BIN}/pg_isready", "-q", "-h",
                                "127.0.0.1", "-p", str(self.port)],
                               cwd=self.dir)
            if r.returncode == 0:
                return
            if self.proc.poll() is not None:
                break
            time.sleep(0.1)
        raise RuntimeError("postgres did not start")

    def stop(self):
        if self.proc and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)


def fixture_for(workload):
    """The fixture directory of a workload; query_llm's is assembled in
    the build directory from the two committed ones."""
    if workload != "query_llm":
        return FIXTURE
    out = os.path.join(BUILD, "fixture-llm")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for src in (FIXTURE, TEXT_FIXTURE):
            for f in os.listdir(src):
                shutil.copyfile(os.path.join(src, f), os.path.join(tmp, f))
        os.rename(tmp, out)
    return out


def stream_inputs(out, seed, events=20000, files=2, users=500, span_minutes=240,
                  universe=3000, scans=3):
    """Write the seeded inputs of stream_stateful, one parquet file per
    micro-batch, with modification times in replay order.

    events: `ts` strictly increasing over a 4-hour span; user, type and
    value drawn from the seed; dedup keys (`props`) repeat in runs of three
    adjacent rows and never again, so no duplicate outlives its watermark.
    scans: complete listings of a file tree, as `ScrapeTws` consumes them;
    each scan misses a seeded 2% of the files (deletes, later revives) and
    changes the size of a seeded 10% (updates)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    ts_type = pa.timestamp("us", tz="UTC")
    base_us = 1704067200 * 1000000  # 2024-01-01T00:00:00Z
    mtime = 1700000000

    def write(table, path, slot):
        pq.write_table(table, path)
        os.utime(path, (mtime + 60 * slot, mtime + 60 * slot))

    n = events
    ids = np.arange(n, dtype=np.int64)
    types = np.array(["view", "click", "purchase", "signup", "error"])
    events = pa.table({
        "event_id": ids,
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": types[rng.integers(0, len(types), n)],
        "ts": pa.array(base_us + ids * (span_minutes * 60000000 // n),
                       ts_type),
        "value": rng.integers(0, 10000, n) / 100.0,
        "props": [f"p{i // 3}" for i in range(n)]})
    ev = os.path.join(out, "events")
    os.makedirs(ev)
    per = n // files
    for f in range(files):
        rows = events.slice(f * per, per if f < files - 1 else n - f * per)
        write(rows, os.path.join(ev, f"part-{f:05d}.parquet"), f)

    u = universe
    absent = rng.integers(0, 50, u)
    changes = rng.integers(0, 10, u)
    sc = os.path.join(out, "scans")
    os.makedirs(sc)
    for i in range(scans):
        fid = np.arange(u, dtype=np.int64)[absent != i % 50]
        k = len(fid)
        size = fid * 10 + np.where((changes[fid] + i) % 10 == 0, i, 0)
        scan = pa.table({
            "external_source": ["bench"] * k,
            "path": [f"/d{x % 100}" for x in fid],
            "filename": [f"f{x}" for x in fid],
            "mime_type": ["application/octet-stream"] * k,
            "created": pa.array((1000 + fid) * 1000, ts_type),
            "modified": pa.array((5000 + fid) * 1000, ts_type),
            "size": size.astype(np.int64),
            "observed": pa.array(np.full(k, base_us + i * 60000000), ts_type)})
        write(scan, os.path.join(sc, f"part-{i:05d}.parquet"), i)


def oracle_checks(check_dir, fixture):
    """Compare each checked query result with its DuckDB oracle over the
    fixture; a query without an oracle must return rows. Returns
    (checked, failures).

    The fixture is fixed, so an oracle's result is cached in the build
    directory, keyed by its SQL and the fixture's files, and computed once
    per checkout."""
    import hashlib
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(fixture, t + '.parquet')}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    cache = os.path.join(BUILD, "oracles")
    os.makedirs(cache, exist_ok=True)
    fixture_id = repr(sorted(
        (f, os.path.getsize(os.path.join(fixture, f)),
         os.path.getmtime(os.path.join(fixture, f)))
        for f in os.listdir(fixture)))

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)

    checked, failures = 0, []
    for qdir in sorted(glob.glob(os.path.join(check_dir, "*", ""))):
        name = os.path.basename(os.path.dirname(qdir))
        files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
        checked += 1
        got = (pd.concat([pd.read_parquet(f) for f in files])
               if files else pd.DataFrame())
        if name not in oracles:
            if len(got) == 0:
                failures.append(f"query {name}: no rows and no oracle")
            continue
        key = hashlib.sha256((oracles[name] + fixture_id).encode())
        cached = os.path.join(cache, key.hexdigest() + ".pkl")
        try:
            if os.path.exists(cached):
                exp = pd.read_pickle(cached)
            else:
                exp = con.sql(oracles[name]).df()
                exp.to_pickle(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
        except Exception as e:  # the oracle itself must run
            failures.append(f"query {name}: oracle error {e}")
            continue
        got, exp = norm(got), norm(exp)
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            failures.append(f"query {name}: shape {list(got.columns)} x "
                            f"{len(got)} vs oracle {list(exp.columns)} x "
                            f"{len(exp)}")
            continue
        for c in got.columns:
            a = [cell(v) for v in got[c]]
            b = [cell(v) for v in exp[c]]
            if a != b:
                i = next(i for i in range(len(a)) if a[i] != b[i])
                failures.append(f"query {name}: column {c} row {i}: "
                                f"{a[i]} vs oracle {b[i]}")
                break
    return checked, failures


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the servers started below stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    started = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and "
             "src/main/scala/graft not found)")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found")
    if not os.path.isdir(FIXTURE):
        fail(f"fixture {FIXTURE} not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build(started + 840)
    jsa = class_archive(cp, started + 840)
    run_started = time.time()
    fixture = fixture_for(a.workload)
    work = os.path.join(BUILD, "runs",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = load1()
    pg = Postgres(work) if a.workload == "scan_publish" else None
    if a.workload == "stream_stateful":
        stream_inputs(os.path.join(work, "out", "stream"), a.seed)
    try:
        if pg:
            pg.start()
        cmd = java(cp, work,
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--out", os.path.join(work, "out"), "--fixture", fixture]
                   + (["--pg-port", str(pg.port)] if pg else []),
                   [f"-XX:SharedArchiveFile={jsa}"])
        jvm_started = time.time()
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as out:
            jvm = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL)
            try:
                rc = jvm.wait(timeout=max(10, RUN_LIMIT_S -
                                          (time.time() - run_started)))
            except subprocess.TimeoutExpired:
                rc = -1
            finally:  # also on SIGTERM: never leave the engine running
                if jvm.poll() is None:
                    jvm.kill()
                    jvm.wait()
        jvm_s = time.time() - jvm_started
        result_path = os.path.join(work, "out", "result.json")
        if rc != 0:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        if not os.path.exists(result_path):
            fail(f"engine process exited with {rc}")
        with open(result_path) as f:
            res = json.load(f)
        failures = list(res["failures"])
        checks, checks_failed = res["checks"], res["checks_failed"]
        checked = time.time()
        if a.workload.startswith("query_"):
            n, fs = oracle_checks(os.path.join(work, "out", "check"), fixture)
            checks += n
            checks_failed += len(fs)
            failures += fs
        oracle_s = time.time() - checked
    finally:
        if pg:
            pg.stop()
    load_after = load1()

    ops = res["ops"]
    attempted = len(ops) + checks
    # an aborted run (the engine exited non-zero) counts as one failure
    failed = (sum(1 for o in ops if not o["ok"]) + checks_failed +
              (rc != 0))
    walls = [o["wall_s"] for o in ops if o["ok"]] or [float("nan")]
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    pass_s = statistics.median(sum(o["wall_s"] for o in ps)
                               for ps in passes.values()) if passes else \
        float("nan")

    def kind_walls(kind):
        return [o["wall_s"] for o in ops if o["ok"] and o["kind"] == kind]

    # ungraded per-workload figures (perfbench/README.md): name -> value,
    # unit. A traced run's passes are traced, or half traced and warm, so
    # it reports only its failures.
    report = {"failed_ratio": (failed / max(1, attempted), "ratio")}
    if not a.trace:
        report.update(op_p50_s=(statistics.median(walls), "s"),
                      op_p90_s=(quantile(walls, 0.9), "s"),
                      op_samples=(len(walls), "count"))
        if a.workload == "scan_publish":
            report["fresh_cycle_s"] = (
                statistics.median(kind_walls("fresh")), "s")
            report["rescan_cycle_s"] = (
                statistics.median(kind_walls("rescan")), "s")
            report["rescan_samples"] = (len(kind_walls("rescan")), "count")
        elif a.workload.startswith("query_"):
            report["query_total_s"] = (pass_s, "s")
            report["query_p50_s"] = report["op_p50_s"]
            report["query_p90_s"] = report["op_p90_s"]
        else:
            rows = sum(v for k, v in res["extra"].items()
                       if k.startswith("rows."))
            report["stream_rows_per_s"] = (rows / pass_s, "rows/s")

    ctx = dict(res["context"])
    ctx.update(res["extra"])
    ctx.update(jvm_s=jvm_s, oracle_s=oracle_s, load1_before=load_before,
               load1_after=load_after,
               passes=len(passes), ops=len(ops),
               setup_rounds_s=res["setup_s"], run_wall_s=time.time() - started)
    print("context " + json.dumps(ctx, sort_keys=True))
    for k, (v, unit) in report.items():
        print(f"report {k} {v:.6g} {unit}")
    for o in ops:
        print(f"op {o['kind']} {o['name']} pass {o['pass']} "
              f"{o['wall_s']:.4f} s{' traced' if o['traced'] else ''}")
    for msg in failures:
        print("FAILED " + msg)

    if a.trace:
        # a layer the workload does not use records nothing: it reads 0
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {"setup_s": statistics.median(res["setup_s"]),
                  "peak_rss_mb": res["context"]["peak_rss_mb"],
                  "pass_s": pass_s}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for m in metrics.values():  # a NaN would not be valid JSON
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    for k, m in metrics.items():
        print(f"metric {k} {m['value']:.6g} {m['unit']}")
    spans = os.path.join(work, "out", "spans.jsonl")
    if a.trace and os.path.exists(spans):
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        shutil.copyfile(spans, os.path.join(
            BUILD, "spans", f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
