#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, oracle-checked outputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload NAME --smoke

Workloads (see BENCHMARK.json for why each exists):
  cli     fresh-JVM `graft.Main` unix-filter runs, stdin -> stdout
  stream  sf0.1 Structured Streaming entries

Every in-process run is a fresh JVM with private artifact, scratch,
checkpoint and working directories under perfbench/work/, removed at the
end. Load is closed-loop with one caller: the next invocation or entry
starts only after the previous one returns. The seed fixes the CLI records
and the order of entries; the program only sees the generated inputs.

Outputs are checked outside the timed region: each entry's parquet output
is hash-compared with DuckDB running SparkEntry.oracleSql on the same
tables (canonicalization of tools/local_verify.py); CLI outputs and DLQ
lines are compared with multisets the generator computes itself.

--seconds is a floor on the measured time: the CLI workload repeats rounds
of its three invocations until that much is measured and reports wall and
CPU time per round; an in-process workload times each of its entries once,
cold, in each of PASSES fresh JVMs, which already takes longer, and reports
the median over the JVMs.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics; --trace 1 runs the
untraced pass and then a traced pass with the same seed, and reports the
per-layer metrics plus the tracing overhead (traced minus untraced wall_s).
Per-entry rows and spans go to perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
RESULTS = HERE / "results"
CACHE = HERE / "cache"

SF = "sf0.1"
SMOKE_SF = "sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# In-process workloads. Executor-bound sf0.1 batch entries (text_substring_dedup,
# multimodal_vp8, u_effect_dlq, u_suppose, q5_star_broadcast, q_merge_cow,
# idx_ivf_build, idx_bloom_build) are not one: on a 4-core host some runs
# were ~25 % slower in every entry, with more JIT time, and ten seeds spread
# up to 0.23 of the median in wall time and 0.32 in CPU time.
WORKLOADS = {
    "stream": [
        "u_stream_filter", "u_stream_dedup", "u_stream_pipe",
        "u_stream_crawl_gate", "u_stream_count", "u_stream_state",
        "u_stream_html", "u_stream_join"],
}
# Warm-up before the first timed call: untimed entries that share code with
# the timed ones (file-stream sources, watermarks, state store, checkpoint
# and memory sinks), run over the sf0.001 tables, so that less of the timed
# region is spent loading classes and in the JIT compiler. None of them is
# timed and none compiles a uDLang script, so the scripts the front end is
# timed on are the timed entries' own.
WARM_UP = {
    "stream": ["u_stream_enrich", "u_stream_window", "u_stream_session", "u_stream_hll"],
}
# Fresh JVMs per untraced in-process run, each timing every entry once; the
# run reports the median of their figures. With one JVM per run, total CPU
# time spread 0.13-0.27 of the median over ten seeds on a 4-core host; about
# two thirds of the entries' CPU time is JIT compilation.
PASSES = 2
CLI_RECORDS = 20000
# records per kernel-tier script when timing the interpreter alone
INTERP_RECORDS = 20000
SETUP_REPEATS = 3
CLI_INVOCATIONS = ["hello", "filter", "dlq"]

# Spark task threads: up to four, leaving two cores to the JIT compiler
# threads (three on a 4-core host, busy through a whole run: 35-50 s of
# compilation in 20 s of entries), GC and Spark's scheduler. On a 4-core
# host, ten-seed sets of the batch entries above spread 0.18-0.23 of the
# median in wall time and 0.19-0.32 in CPU time with three task threads,
# against 0.12-0.21 and 0.19-0.25 with two, at about the same median.
CORES = max(1, min(4, (os.cpu_count() or 1) - 2))
# The in-process JVM starts with its whole heap (-Xms = -Xmx): a growing heap
# made some runs spend 2-3x the usual GC time and ~6 s more CPU time.
HEAP = "3g"
CLI_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


# A run must end within 180 s of the build; set once the build is done.
DEADLINE = [float("inf")]


def remaining():
    left = DEADLINE[0] - time.monotonic()
    if left <= 1:
        raise BenchError("out of time")
    return left


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def data_root():
    """The generated test tables: GRAFT_BENCH_DATA, else the directory
    TESTDATA.md names for them."""
    if os.environ.get("GRAFT_BENCH_DATA"):
        return Path(os.environ["GRAFT_BENCH_DATA"])
    doc = ROOT / "TESTDATA.md"
    m = re.search(r"`([^`]+)/" + re.escape(SF) + "/?`", doc.read_text()) if doc.is_file() else None
    if m is None:
        raise BenchError("TESTDATA.md names no test data directory")
    return Path(m.group(1))


def source_stamp():
    """Hash of every input of the build, to skip a rebuild when unchanged."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness with sbt (offline); return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError(f"no graft sources at {ROOT}")
    stamp = source_stamp()
    cp_file = HERE / "target" / "bench-classpath.txt"
    if cp_file.is_file():
        saved = json.loads(cp_file.read_text())
        if saved["stamp"] == stamp:
            return saved["classpath"], stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError("sbt build failed")
    cp_file.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1]}))
    return lines[-1], stamp


def prepare(cp, stamp):
    """Once per build: the DuckDB reference result of every entry, so runs
    only hash graft's own outputs."""
    marker = CACHE / f"oracle-ready-{stamp}"
    if marker.is_file():
        return
    work = WORK / f"prepare-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    out = work / "oracle_sql.json"
    names = sorted({n for ns in WORKLOADS.values() for n in ns})
    code, _, _, _ = run_process(
        java_cmd(cp, work, CLI_HEAP, "perfbench.Harness",
                 ["mode=oracle-sql", f"entries={','.join(names)}", f"out={out}"]),
        work, stderr_path=work / "err", timeout=300)
    if code != 0:
        raise BenchError("could not list the oracle SQL")
    oracle = Oracle(data_root() / SF, work)
    for name, sql in sorted(json.loads(out.read_text()).items()):
        oracle.reference(sql)
    oracle.con.close()
    shutil.rmtree(work, ignore_errors=True)
    marker.write_text("")


def commit_id(stamp):
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except OSError:
        pass
    return f"source-{stamp}"


# ------------------------------------------------------------- processes

def java_cmd(cp, work, heap, main, args):
    """A fresh JVM whose every scratch path points into `work`."""
    props = {
        "java.io.tmpdir": work / "tmp",
        "graft.artifact.dir": work / "artifacts",
        "spark.local.dir": work / "spark-local",
        "spark.sql.warehouse.dir": work / "warehouse",
        "spark.sql.streaming.checkpointLocation": work / "checkpoints",
        "spark.checkpoint.dir": work / "rdd-checkpoints",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    sizes = [f"-Xmx{heap}"] + ([f"-Xms{heap}"] if heap == HEAP else [])
    return (["java", *opens, *sizes] +
            [f"-D{k}={v}" for k, v in props.items()] + ["-cp", cp, main] + args)


def run_process(cmd, cwd, stdin_path=None, stdout_path=None, stderr_path=None,
                timeout=None):
    """Run to completion; return (exit code, wall s, cpu s, peak rss MB)."""
    timeout = remaining() if timeout is None else timeout
    fin = open(stdin_path, "rb") if stdin_path else subprocess.DEVNULL
    fout = open(stdout_path, "wb") if stdout_path else subprocess.DEVNULL
    ferr = open(stderr_path, "wb") if stderr_path else subprocess.DEVNULL
    try:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=cwd, stdin=fin, stdout=fout, stderr=ferr)
        deadline = time.monotonic() + timeout
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                raise BenchError(f"timed out: {' '.join(cmd[-3:])}")
            time.sleep(0.005)
        wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        return p.returncode, wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024.0
    finally:
        for f in (fin, fout, ferr):
            if hasattr(f, "close"):
                f.close()


# ------------------------------------------------------------------ stats

def geomean(xs):
    xs = [x for x in xs if x > 0]
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it."""
    xs = sorted(xs)
    if len(xs) <= beyond:
        return (xs[0] if xs else 0.0), 0.0
    k = len(xs) - beyond - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


# ------------------------------------------------------------------ oracle

def canon(v):
    if isinstance(v, float):
        return f"{v:.10g}"
    return repr(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over the same tables; reference hashes are cached per SQL."""

    def __init__(self, sf_dir, work):
        import duckdb
        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        spill = work / "duckdb-spill"
        spill.mkdir(parents=True, exist_ok=True)
        for setting in ("threads = 2", "memory_limit = '2GB'",
                        f"temp_directory = '{spill}'", "max_temp_directory_size = '2GB'"):
            self.con.execute(f"SET {setting}")
        for t in TABLES:
            p = sf_dir / f"{t}.parquet"
            if p.exists():
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def reference(self, sql):
        key = hashlib.sha256(f"{self.sf_dir}\0{sql}".encode()).hexdigest()[:24]
        f = CACHE / f"oracle-{key}.json"
        if f.is_file():
            return json.loads(f.read_text())
        rel = self.con.sql(sql)
        cols, types = list(rel.columns), [str(t) for t in rel.types]
        rows = rel.fetchall()
        ref = {"cols": cols, "rows": len(rows), "hash": table_hash(cols, rows),
               "hugeint": any("HUGEINT" in t.upper() for t in types)}
        CACHE.mkdir(parents=True, exist_ok=True)
        f.write_text(json.dumps(ref))
        return ref

    def check(self, out_dir, sql):
        """None when the parquet output equals the oracle, else a reason."""
        files = list(out_dir.glob("*.parquet")) if out_dir.is_dir() else []
        if not files:
            return "no output"
        ref = self.reference(sql)
        if ref["hugeint"]:
            return "oracle schema has INT128 columns"
        rel = self.con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        if sorted(cols) != sorted(ref["cols"]):
            return f"columns {sorted(cols)} != {sorted(ref['cols'])}"
        if len(rows) != ref["rows"]:
            return f"rows {len(rows)} != {ref['rows']}"
        if table_hash(cols, rows) != ref["hash"]:
            return "hash mismatch"
        return None


# -------------------------------------------------------- in-process runs

def run_entries(cp, workload, names, sf_dir, seed, trace, run_id, ud_sources):
    """One JVM over the entries. A traced run also takes the uDLang sources
    the untraced run's entries compiled, to time the front end on them."""
    work = WORK / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    args = [f"mode=entries", f"workload={workload}", f"entries={','.join(names)}",
            f"sf={sf_dir}", f"run={work}", f"out={out}", f"trace={trace}",
            f"cores={CORES}", f"run_id={run_id}",
            f"warm_entries={','.join(WARM_UP[workload])}",
            f"warm_sf={data_root() / SMOKE_SF}"]
    if trace:
        (work / "ud_sources.json").write_text(json.dumps(ud_sources))
        args += [f"ud_sources={work / 'ud_sources.json'}", f"interp_records={INTERP_RECORDS}"]
    t_start = time.time()
    code, wall, cpu, rss = run_process(
        java_cmd(cp, work, HEAP, "perfbench.Harness", args), work,
        stderr_path=work / "harness.err")
    if code != 0 or not out.is_file():
        err = (work / "harness.err").read_text(errors="replace")[-3000:]
        raise BenchError(f"harness exited {code}: {err}")
    res = json.loads(out.read_text())
    res["setup_s"] = res["first_call_us"] / 1e6 - t_start
    res["peak_rss_mb"] = rss
    oracle = Oracle(sf_dir, work)
    for row in res["rows"]:
        sql = res["oracle_sql"].get(row["name"])
        if not row["ok"]:
            row["check"] = "threw: " + str(row["error"])
        elif sql is None:
            row["check"] = "no oracle SQL"
        else:
            row["check"] = oracle.check(work / "out" / row["name"], sql)
    oracle.con.close()
    shutil.rmtree(work, ignore_errors=True)
    return res


def microbatch_metrics(batches):
    """Latency of the micro-batches that carried data."""
    data = [b["durations_ms"].get("triggerExecution", 0) for b in batches if b["rows"] > 0]
    t, pct = tail(data)
    return {
        "stream.microbatch_p50_ms": statistics.median(data) if data else 0.0,
        "stream.microbatch_tail_ms": t,
        "stream.microbatch_tail_pct": pct,
        "stream.data_batches": len(data),
    }


def stream_layers(batches):
    dur = lambda *ks: sum(b["durations_ms"].get(k, 0) for b in batches for k in ks)
    last_state = {}
    for b in batches:
        last_state[b["query"]] = (b["state_rows"], b["state_bytes"])
    return {
        "stream.batches": len(batches),
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.plan_ms": dur("queryPlanning"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.offset_ms": dur("latestOffset", "getBatch"),
        "stream.wal_ms": dur("walCommit", "commitOffsets"),
        "stream.state_rows": sum(v[0] for v in last_state.values()),
        "stream.state_mb": sum(v[1] for v in last_state.values()) / 1048576.0,
        **microbatch_metrics(batches),
    }


def lang_layers(res):
    """Front end (parse, typecheck, cold compile, tiers) and interpreter."""
    front = res["front"]
    tiers = [f["tier"] for f in front]
    return {
        "lang.parse_ms": sum(f["parse_ms"] for f in front),
        "lang.typecheck_ms": sum(f["typecheck_ms"] for f in front),
        "lang.compile_ms": sum(f["compile_ms"] for f in front),
        "lang.tier.column": tiers.count("column"),
        "lang.tier.loop": tiers.count("loop"),
        "lang.tier.kernel": tiers.count("kernel"),
        "lang.scripts": len(front),
        "lang.interp_records": res["interp_records"],
        "lang.interp_us_per_record": 1e3 * res["interp_ms"] / max(1, res["interp_records"]),
    }


def entries_metrics(res):
    rows = res["rows"]
    walls = [r["wall_s"] for r in rows]
    return {
        "setup_s": res["setup_s"],
        "wall_s": sum(walls),
        "geomean_s": geomean(walls),
        "cpu_s": sum(r["cpu_s"] for r in rows),
        "jvm.peak_rss_mb": res["peak_rss_mb"],
        **microbatch_metrics(res["batches"]),
    }


def entries_layers(res):
    rows = res["rows"]
    tracker = lambda k: sum(r.get("tracker_ms", {}).get(k, 0.0) for r in rows)
    m = {
        "session.start_s": res["session_s"],
        "catalyst.analyze_ms": tracker("analysis"),
        "catalyst.optimize_ms": 1e3 * sum(r.get("optimize_s", 0.0) for r in rows),
        "catalyst.plan_ms": 1e3 * sum(r.get("plan_s", 0.0) for r in rows),
        "catalyst.tracker_optimize_ms": tracker("optimization"),
        "catalyst.tracker_plan_ms": tracker("planning"),
        "driver.gap_s": sum(r.get("gap_s", 0.0) for r in rows),
        "jvm.gc_s": sum(r["gc_s"] for r in rows),
        "jvm.jit_s": sum(r["jit_s"] for r in rows),
        "exec.busy_s": sum(r.get("busy_s", 0.0) for r in rows),
    }
    m.update(stream_layers(res["batches"]))
    m.update(lang_layers(res))
    m.update(res["exec"])
    m.update(res["store"])
    m.update(res["jvm"])
    return m


# ------------------------------------------------------------------- CLI

def gen_cli(seed, n):
    """Seeded CLI inputs and the outputs graft must produce for them."""
    rng = random.Random(seed)
    word = "w%08x" % rng.getrandbits(32)
    hello_in = [json.dumps(word)]
    hello_out = [("Hello, " + word,)]
    kinds = {"click": "ui", "view": "ui", "purchase": "commerce"}
    types = ["click", "view", "purchase", "signup", "share"]
    ev_in, ev_out = [], []
    for i in range(n):
        t = rng.choice(types)
        v = round(rng.uniform(-100.0, 100.0), 2)
        ev_in.append(json.dumps({"event_id": i, "event_type": t, "value": v}))
        if v > 50.0:
            ev_out.append((("boosted", v * 2.0), ("cat", kinds.get(t, "other")),
                           ("event_id", i)))
    neg_share = rng.uniform(0.10, 0.20)
    dlq_in, dlq_out, dlq_dead = [], [], []
    for i in range(n):
        v = round(rng.uniform(0.01, 100.0), 2)
        if rng.random() < neg_share:
            v = -v
        dlq_in.append(json.dumps({"event_id": i, "value": v}))
        if v < 0.0:
            dlq_dead.append((i, v, "negative value"))
        else:
            dlq_out.append((("event_id", i), ("score", v * 10.0)))
    return {
        "hello": (hello_in, sorted(hello_out), []),
        "filter": (ev_in, sorted(ev_out), []),
        "dlq": (dlq_in, sorted(dlq_out), sorted(dlq_dead)),
    }


def parse_stdout(text, scalar):
    out = []
    for ln in text.splitlines():
        if not ln.strip():
            continue
        v = json.loads(ln)
        out.append((v,) if scalar else tuple(sorted(v.items())))
    return sorted(out)


def parse_dlq(text):
    """DLQ lines are `<event_id>\\t<value>\\t<message>`; logs are skipped."""
    dead = []
    for ln in text.splitlines():
        f = ln.split("\t")
        if len(f) == 3 and f[0].lstrip("-").isdigit():
            try:
                dead.append((int(f[0]), float(f[1]), f[2]))
            except ValueError:
                pass
    return sorted(dead)


CLI_ARGS = {
    "hello": ["examples/hello.us"],
    "filter": ["examples/filter_events.us"],
    "dlq": ["--mode", "dlq", "examples/checked_effects.us"],
}


def run_cli_round(cp, work, inputs, order):
    """One fresh-JVM invocation of each CLI script, in the seeded order."""
    rows = []
    for name in order:
        stdin = work / f"{name}.in"
        args = [str(ROOT / a) if a.endswith(".us") else a for a in CLI_ARGS[name]]
        code, wall, cpu, rss = run_process(
            java_cmd(cp, work, CLI_HEAP, "graft.Main", args), work,
            stdin_path=stdin, stdout_path=work / f"{name}.out",
            stderr_path=work / f"{name}.err")
        _, want_out, want_dead = inputs[name]
        check = None
        if code != 0:
            check = f"exit {code}"
        else:
            got = parse_stdout((work / f"{name}.out").read_text(), name == "hello")
            if got != want_out:
                check = f"stdout differs ({len(got)} vs {len(want_out)} records)"
            elif name == "dlq":
                dead = parse_dlq((work / f"{name}.err").read_text(errors="replace"))
                if dead != want_dead:
                    check = f"DLQ differs ({len(dead)} vs {len(want_dead)} records)"
        rows.append({"name": name, "wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss,
                     "ok": code == 0, "check": check})
    return rows


def cli_setup(cp, seed, n, work):
    """Inputs and expected outputs, then a fresh graft JVM through the
    front end (`--dump-ast`, no session); returns (inputs, JVM start s)."""
    inputs = gen_cli(seed, n)
    for name, (lines, _, _) in inputs.items():
        (work / f"{name}.in").write_text("\n".join(lines) + "\n")
    code, wall, _, _ = run_process(
        java_cmd(cp, work, CLI_HEAP, "graft.Main",
                 ["--dump-ast", str(ROOT / "examples/hello.us")]), work)
    if code != 0:
        raise BenchError(f"--dump-ast exited {code}")
    return inputs, wall


def store_scan(root):
    """Top-level keys, files and megabytes under an artifact root."""
    keys = [p for p in root.iterdir() if not p.name.startswith(".")] if root.is_dir() else []
    files = [p for p in root.rglob("*") if p.is_file()] if root.is_dir() else []
    return {"store.keys": len(keys), "store.files": len(files),
            "store.mb": sum(p.stat().st_size for p in files) / 1048576.0}


def run_cli(cp, seed, n, seconds, trace, run_id):
    work = WORK / f"cli-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # set-up, repeated for a median
    setups, starts = [], []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        inputs, start = cli_setup(cp, seed, n, work)
        setups.append(time.perf_counter() - t0)
        starts.append(start)
    rng = random.Random(seed)
    rows, rounds, t0 = [], 0, time.perf_counter()
    while not rows or time.perf_counter() - t0 < seconds:
        order = CLI_INVOCATIONS[:]
        rng.shuffle(order)
        rows += run_cli_round(cp, work, inputs, order)
        rounds += 1
    res = {"setup_s": statistics.median(setups), "rows": rows, "rounds": rounds,
           "jvm_start_s": statistics.median(starts), "store": store_scan(work / "artifacts")}
    if trace:
        res["probe"] = cli_probe(cp, work, run_id)
    shutil.rmtree(work, ignore_errors=True)
    return res


def cli_probe(cp, work, run_id):
    """Per-layer CLI timings from an in-process probe JVM."""
    out = work / "probe.json"
    scripts = [str(ROOT / CLI_ARGS[n][-1]) for n in CLI_INVOCATIONS]
    args = ["mode=cli-probe", f"scripts={','.join(scripts)}", f"out={out}",
            f"run={work}", f"cores={CORES}", f"run_id={run_id}",
            "interp_script=2", f"interp_records={work / 'dlq.in'}",
            "decode_script=1", f"decode_records={work / 'filter.in'}"]
    code, _, _, _ = run_process(java_cmd(cp, work, CLI_HEAP, "perfbench.Harness", args),
                                work, stderr_path=work / "probe.err")
    if code != 0 or not out.is_file():
        raise BenchError("cli probe failed: " +
                         (work / "probe.err").read_text(errors="replace")[-3000:])
    return json.loads(out.read_text())


def cli_metrics(res):
    rows = res["rows"]
    walls = [r["wall_s"] for r in rows]
    by = lambda n: statistics.median(r["wall_s"] for r in rows if r["name"] == n)
    # per round, so that the figures do not depend on how many rounds fit
    return {
        "setup_s": res["setup_s"],
        "wall_s": sum(walls) / res["rounds"],
        "geomean_s": geomean(walls),
        "cpu_s": sum(r["cpu_s"] for r in rows) / res["rounds"],
        "cli.rounds": res["rounds"],
        "jvm.peak_rss_mb": max(r["peak_rss_mb"] for r in rows),
        "cli.hello_s": by("hello"),
        "cli.filter_s": by("filter"),
        "cli.dlq_s": by("dlq"),
    }


def cli_layers(res):
    """The CLI rounds' JVM start and artifact root, and the probe's layers;
    Catalyst, jobs and driver gaps are those of the probe's Main.execute."""
    p = res["probe"]
    tracker = p["tracker_ms"]
    m = {
        "cli.jvm_start_s": res["jvm_start_s"],
        "cli.execute_ms": p["execute_ms"],
        "session.start_s": p["session_s"],
        "sources.decode_ms": p["decode_ms"],
        "catalyst.analyze_ms": tracker.get("analysis", 0.0),
        "catalyst.optimize_ms": tracker.get("optimization", 0.0),
        "catalyst.plan_ms": tracker.get("planning", 0.0),
        "exec.busy_s": p["busy_s"],
        "driver.gap_s": p["gap_s"],
    }
    m.update(lang_layers(p))
    m.update(stream_layers(p["batches"]))
    m.update(res["store"])
    m.update(p["exec"])
    m.update(p["jvm"])
    return m


# ------------------------------------------------------------ the run

def self_times(spans):
    """Per-layer self time: a span's duration minus what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        iv = sorted(kids.get(s["id"], []))
        covered, cs, ce = 0, None, None
        for a, b in iv:
            a, b = max(a, s["start_us"]), min(b, s["end_us"])
            if b <= a:
                continue
            if ce is None or a > ce:
                covered += (ce - cs) if ce is not None else 0
                cs, ce = a, b
            else:
                ce = max(ce, b)
        covered += (ce - cs) if ce is not None else 0
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end_us"] - s["start_us"] - covered) / 1e6
    return out


# The only per-layer metrics a workload cannot measure, because it never
# calls that code: the entry workloads start no CLI process and decode no
# JSON records (only graft.Main calls JsonRecords.read). They print 0.
NOT_EXERCISED = {"cli": (), "entries": ("cli.", "sources.")}

# Workload-specific end-to-end figures; the traced run repeats them from the
# untraced pass, since tracing must not colour them.
UNTRACED_IN_TRACE = ("cli.hello_s", "cli.filter_s", "cli.dlq_s", "jvm.peak_rss_mb",
                     "stream.microbatch_p50_ms", "stream.microbatch_tail_ms")


def one_pass(cp, workload, seed, seconds, trace, smoke, ud_sources=(), passes=1):
    run_id = f"{workload}-{seed}-{trace}-{int(time.time() * 1000)}"
    if workload == "cli":
        res = run_cli(cp, seed, 20 if smoke else CLI_RECORDS,
                      0 if smoke else seconds, trace, run_id)
        metrics = cli_metrics(res)
        if trace:
            metrics.update(cli_layers(res))
        spans = res.get("probe", {}).get("spans", [])
    else:
        names = WORKLOADS[workload][:]
        random.Random(seed).shuffle(names)
        if smoke:
            names = sorted(WORKLOADS[workload])[:1]
        sf_dir = data_root() / (SMOKE_SF if smoke else SF)
        runs = [run_entries(cp, workload, names, sf_dir, seed, trace, run_id, list(ud_sources))
                for _ in range(passes)]
        per = [entries_metrics(r) for r in runs]
        metrics = {k: statistics.median(m[k] for m in per) for k in per[0]}
        res = dict(runs[0], rows=[row for r in runs for row in r["rows"]],
                   batches=[b for r in runs for b in r["batches"]])
        if trace:
            metrics.update(entries_layers(res))
        spans = res.get("spans", [])
    failed = sum(1 for r in res["rows"] if r["check"] is not None)
    res["metrics"] = metrics
    res["attempted"], res["failed"] = len(res["rows"]), failed
    res["spans"] = spans
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001, one entry per workload, tiny CLI inputs; "
                         "asserts the metric names and fail_ratio == 0")
    a = ap.parse_args()
    if a.workload != "cli" and a.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {a.workload}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise BenchError(f"workload {a.workload} is not in BENCHMARK.json")
    if not (data_root() / SF).is_dir():
        raise BenchError(f"no test data at {data_root() / SF}")
    cp, stamp = build()
    prepare(cp, stamp)
    DEADLINE[0] = time.monotonic() + 170

    # a traced run's untraced reference is one JVM, like its traced pass
    final = one_pass(cp, a.workload, a.seed, a.seconds, 0, a.smoke,
                     passes=1 if a.trace or a.smoke else PASSES)
    if a.trace:
        # the untraced pass above, then a traced one with the same seed
        untraced = final
        final = one_pass(cp, a.workload, a.seed, a.seconds, 1, a.smoke,
                         untraced.get("ud_sources", ()))
        final["attempted"] += untraced["attempted"]
        final["failed"] += untraced["failed"]
        ref = untraced["metrics"]
        final["metrics"]["trace.overhead_s"] = final["metrics"]["wall_s"] - ref["wall_s"]
        for k in UNTRACED_IN_TRACE:
            if k in ref:
                final["metrics"][k] = ref[k]
    all_m = final["metrics"]
    all_m["fail_ratio"] = final["failed"] / final["attempted"]
    key = "per_layer" if a.trace else "end_to_end"
    wanted = [(m["name"], m["unit"]) for m in spec[key]]
    if a.trace:
        # a layer this workload never enters reads zero
        idle = NOT_EXERCISED["cli" if a.workload == "cli" else "entries"]
        for n, _ in wanted:
            if n not in all_m and n.startswith(idle):
                all_m[n] = 0.0
    missing = [n for n, _ in wanted if n not in all_m]
    if missing:
        raise BenchError(f"metrics not measured: {missing}")
    # 12 significant digits: all the measured ones, without the float
    # summation tails that would push the traced line past 2,000 bytes
    metrics = {n: {"value": float(f"{all_m[n]:.12g}"), "unit": u} for n, u in wanted}

    RESULTS.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}"
    stamp_info = {"cpus": CORES, "host_cpus": os.cpu_count(), "seed": a.seed,
                  "commit": commit_id(stamp), "heap": CLI_HEAP if a.workload == "cli" else HEAP,
                  "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
                  "sf": SMOKE_SF if a.smoke else SF, "source": stamp}
    report = {"stamp": stamp_info, "metrics": all_m, "rows": final["rows"],
              "batches": final.get("batches")}
    (RESULTS / f"{tag}.json").write_text(json.dumps(report, indent=1))
    if a.trace:
        spans = final["spans"]
        with open(RESULTS / f"{tag}-spans.jsonl", "w") as f:
            f.write(json.dumps({"stamp": stamp_info, "self_s": self_times(spans)}) + "\n")
            for s in spans:
                f.write(json.dumps(s) + "\n")

    line = {"correct": final["failed"] == 0, "attempted": final["attempted"],
            "failed": final["failed"], "metrics": metrics}
    if a.smoke:
        names = set(metrics)
        if names != {n for n, _ in wanted} or all_m["fail_ratio"] != 0:
            print(json.dumps(line))
            raise BenchError("smoke: metric names or fail_ratio wrong")
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    finally:
        try:
            WORK.rmdir()
        except OSError:
            pass
