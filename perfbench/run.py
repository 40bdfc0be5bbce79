#!/usr/bin/env python3
"""perfbench: the repository benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload {serve,batch} --seed N \
      --seconds S --trace {0,1}

Builds the engine and the harness from source on first use (sbt, into
.bench_build/, against the Spark distribution at $SPARK_HOME, packed into
one jar), generates the workload's inputs from the seed, runs one
JVM (Spark local[nproc]) that sets up, measures for S seconds and checks
its results, then checks the batch outputs against the engine's DuckDB
oracle SQL. The last stdout line is the result object; the line before
it carries the detail (per-workload metrics, sample counts, contention,
sizes and, with --trace 1, the per-layer numbers). Exits nonzero on any
failed check or when the sources are missing. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "perfbench" / "scala-2.13" / "classes"
JAR = BUILD / "perfbench" / "perfbench.jar"
STAMP = BUILD / "perfbench" / "source.sha256"
# the class-data-sharing archive (see run_jvm)
CDS = BUILD / "perfbench" / "classes.jsa"
JVM_TIMEOUT_S = 165
ARCHIVING_TIMEOUT_S = 600  # the first run after a build, which also archives

END_TO_END = {  # name -> unit; every workload reports every one (NOTES.md)
    "setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms", "write_ms": "ms", "cycle_ms": "ms",
}
# serve's read-phase request kinds
READS = ("dedup_probe", "ann_probe", "pq_probe", "entity_get", "counter_incr")
SPANS = ["plans.group_entities", "plans.entity_get", "plans.counter",
         "dedup_index.query", "dedup_index.append", "dedup_index.maintain",
         "ann.ivf_query", "ann.pq_query", "ann.append", "ann.maintain",
         "llm.pretrain", "queries.report"]
SPAN_UNITS = {"self_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
              "task_s": "s", "gc_ms": "ms", "shuffle_mb": "MB", "spill_mb": "MB"}
COUNT_UNITS = {"dedup_index.segments": "count", "dedup_index.survivor_ratio": "ratio",
               "store.bytes_per_input_byte": "ratio", "manifest.versions": "count",
               "manifest.claims_lost": "count", "manifest.pointer_heals": "count",
               "counter.lock_wait_ms": "ms", "spark.untagged_jobs": "count"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        die("engine sources (src/main/scala) not found; run from the repository root")
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return files


def build():
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set (the Spark distribution the engine runs on)")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        str(Path.home() / ".sbt" / "repositories"), "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=%s" % (BUILD / "tmp"),
        "-XX:-UsePerfData", "-Xmx2g"]))
    log = BUILD / "perfbench-build.log"
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not CLASSES.is_dir():
        sys.stderr.write(log.read_text()[-4000:])
        die("build failed (log: %s)" % log)
    # a jar, not the class directory: the JVM archives classes only from jars
    with zipfile.ZipFile(JAR, "w") as z:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(CLASSES).as_posix())
    CDS.unlink(missing_ok=True)
    STAMP.write_text(digest)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(workload, seed, data, work, seconds, trace):
    """Generates the inputs while the JVM starts Spark (it waits for the
    generator's last file), then waits for the JVM's result.

    The first run after a build writes a class-data-sharing archive of
    the classes its JVM loaded; later runs, of either workload, map it,
    which takes most class loading out of the Spark start and the cold
    set-up."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    dump = CDS.with_suffix(".%d.tmp" % os.getpid())
    if CDS.is_file():
        cds, timeout = ["-XX:SharedArchiveFile=%s" % CDS], JVM_TIMEOUT_S
    else:
        cds, timeout = ["-XX:ArchiveClassesAtExit=%s" % dump], ARCHIVING_TIMEOUT_S
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + cds
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=%s" % tmp, "-Dspark.local.dir=%s" % (work / "spark-local"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.sql.warehouse.dir=%s" % (work / "warehouse"),
              "-Dderby.system.home=%s" % tmp,
              "-cp", "%s:%s" % (JAR, Path(os.environ["SPARK_HOME"]) / "jars" / "*"),
              "perfbench.Main",
              workload, str(data), str(work), str(seconds), str(trace), str(nproc())])
    log = work / "jvm.log"
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"))
        try:
            t = time.time()
            g = subprocess.run([sys.executable, str(HERE / "gen.py"), workload, str(seed),
                                str(data)], stdin=subprocess.DEVNULL)
            gen_s = time.time() - t
            if g.returncode != 0:
                raise RuntimeError("input generator failed")
            p.wait(timeout=timeout)
        except (subprocess.TimeoutExpired, RuntimeError) as ex:
            p.kill()
            p.wait()
            dump.unlink(missing_ok=True)
            die("run aborted: %s" % (ex if isinstance(ex, RuntimeError)
                                      else "exceeded %d s" % timeout), 3)
    res = work / "jvm_result.json"
    for line in log.read_text(errors="replace").splitlines():
        if line.startswith("[perfbench]"):
            print(line[:2000], file=sys.stderr)
    if p.returncode != 0 or not res.is_file():
        dump.unlink(missing_ok=True)
        sys.stderr.write(log.read_text()[-6000:])
        die("engine run failed (exit %d)" % p.returncode, 3)
    if dump.is_file():
        dump.rename(CDS)
    return json.loads(res.read_text()), gen_s


# --- DuckDB oracle --------------------------------------------------------

def cval(v):
    """A JSON-safe canonical value: floats rounded to 6 places (the repo's
    oracle convention), nested values recursively, others as strings."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else (round(v, 6) or 0.0)
    if isinstance(v, (list, tuple)):
        return [cval(x) for x in v]
    if isinstance(v, dict):
        return [[k, cval(x)] for k, x in sorted(v.items())]
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return str(v)


def canon(rows, cols):
    """Rows with columns in name order, as sorted lists of canonical values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [[cval(r[i]) for i in order] for r in rows]
    return sorted(out, key=repr), [cols[i] for i in order]


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def oracle_rows(sql, inputs):
    """The oracle's canonical rows over `inputs`. The generator is
    deterministic, so the rows are cached under .bench_build keyed by the
    SQL and the input files' bytes: a repeated seed skips the DuckDB run."""
    import duckdb
    h = hashlib.sha256(sql.encode())
    files = sorted(inputs.glob("*.parquet"))
    for f in files:
        h.update(f.name.encode())
        h.update(f.read_bytes())
    cache = BUILD / "oracle-cache" / (h.hexdigest() + ".json")
    if cache.is_file():
        return tuple(json.loads(cache.read_text()))
    con = duckdb.connect()
    for f in files:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (f.stem, f))
    rel = con.execute(sql)
    rows, cols = canon(rel.fetchall(), [d[0] for d in rel.description])
    con.close()
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps([rows, cols]))
    return rows, cols


def oracle_checks(entries):
    """Each Spark output against its DuckDB oracle SQL over the same inputs;
    returns [(name, op index, ok, detail)]."""
    import duckdb
    expected, out = {}, []
    for e in entries:
        key = (e["name"], e["dir"])
        try:
            if key not in expected:
                expected[key] = oracle_rows(e["sql"], Path(e["dir"]))
            con = duckdb.connect()
            rel = con.execute("SELECT * FROM read_parquet('%s/*.parquet')" % e["out"])
            got = canon(rel.fetchall(), [d[0] for d in rel.description])
            con.close()
            (want, wc), (have, hc) = expected[key], got
            if wc != hc:
                ok, detail = False, "columns %s vs %s" % (hc, wc)
            elif len(want) != len(have):
                ok, detail = False, "rows %d vs %d" % (len(have), len(want))
            else:
                ok = all(close(a, b) for a, b in zip(have, want))
                detail = "" if ok else "values differ"
        except Exception as ex:  # a query the oracle cannot run is a failure
            ok, detail = False, "error: %s" % ex
        out.append((e["name"], e["op"], ok, detail))
    return out


# --- metrics --------------------------------------------------------------

def pct(xs, q):
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100.0
    f = math.floor(k)
    c = min(f + 1, len(s) - 1)
    return s[f] + (s[c] - s[f]) * (k - f)


def p50(xs):
    return pct(xs, 50) if xs else float("nan")


def metrics(workload, res, ok_flags):
    """The gated end-to-end metrics, the finer per-workload metrics of the
    detail line and every op's latency, by kind."""
    ops, r = res["ops"], res["rows"]
    lat = lambda *kinds: [o["ms"] for o in ops if o["kind"] in kinds]
    setup = statistics.median(res["setup_s"])
    named = {"setup_s": setup,
             "failed_frac": (len(ok_flags) - sum(ok_flags)) / max(1, len(ok_flags))}
    if workload == "serve":
        reads = lat(*READS)
        # a write step: one ingest step, then its reads after the write
        step = p50(lat("ingest")) + p50(lat("read_after_write"))
        write_s = sum(lat("ingest", "read_after_write")) / 1e3
        # the kinds' latencies do not overlap, so the pooled median is one
        # kind's median; every kind weighs the same in their geometric mean
        kind_p50 = [p50(lat(k)) for k in READS]
        e2e = {"ops_per_s": len(reads) / res["extra"]["read_phase_s"],
               "p50_ms": math.exp(statistics.fmean(math.log(x) for x in kind_p50)),
               "write_ms": sum(lat("ingest")),
               "cycle_ms": sum(lat("ingest", "read_after_write", "maintain"))}
        named.update(ops_per_s=e2e["ops_per_s"], p50_ms=e2e["p50_ms"],
                     pooled_p50_ms=p50(reads), p90_ms=pct(reads, 90))
        for k in READS:
            named[k + "_p50_ms"] = p50(lat(k))
        named.update(step_p50_ms=step, compact_p50_ms=p50(lat("maintain")),
                     read_after_write_p50_ms=p50(lat("read_after_write")),
                     rows_per_s=(r.get("docs_ingested", 0) + r.get("vecs_ingested", 0))
                     / write_s if write_s else float("nan"))
    else:
        passes = len(lat("refresh"))
        pretrain_docs_per_s = r.get("pretrain_docs", 0) / (sum(lat("pretrain")) / 1e3)
        e2e = {"ops_per_s": pretrain_docs_per_s,
               "p50_ms": p50(lat("report")),
               "write_ms": p50(lat("refresh")),
               "cycle_ms": sum(lat("refresh", "pretrain", "report")) / passes}
        named.update(refresh_s=e2e["write_ms"] / 1e3,
                     report_s=sum(lat("report")) / 1e3 / passes,
                     pretrain_docs_per_s=pretrain_docs_per_s)
    e2e = dict(setup_s=setup, **e2e)
    op_ms = {}
    for o in ops:
        op_ms.setdefault(o["kind"], []).append(round(o["ms"], 1))
    return e2e, named, op_ms


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t_start = time.time()
    build()
    run_dir = BUILD / "runs" / ("%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data, work = run_dir / "data", run_dir / "work"
        work.mkdir(parents=True)
        t = time.time()
        res, gen_s = run_jvm(a.workload, a.seed, data, work, a.seconds, a.trace)
        phases = {"build": t - t_start, "gen": gen_s, "jvm": time.time() - t}
        t = time.time()
        orc = oracle_checks(res["oracle"])
        phases["oracle"] = time.time() - t
        phases.update(res["phase_s"])
        sizes = json.loads((data / "sizes.json").read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    bad_ops = {i for _, i, ok, _ in orc if not ok}
    ok_flags = [o["ok"] and i not in bad_ops for i, o in enumerate(res["ops"])]
    checks = res["checks"] + [{"name": "oracle." + n, "ok": ok, "detail": d}
                              for n, _, ok, d in orc]
    failed = sum(1 for f in ok_flags if not f)
    # an op that threw has no output to check: it counts against correctness
    correct = failed == 0 and all(c["ok"] for c in checks)
    e2e, named, op_ms = metrics(a.workload, res, ok_flags)
    if a.trace:
        layers = res["layers"]
        out = {}
        for s in SPANS:
            for m, u in SPAN_UNITS.items():
                out["%s.%s" % (s, m)] = {"value": layers["%s.%s" % (s, m)], "unit": u}
        for m, u in COUNT_UNITS.items():
            out[m] = {"value": layers[m], "unit": u}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": nproc(), "end_to_end": e2e,
              "workload_metrics": named, "op_ms": op_ms,
              "setup_runs_s": res["setup_s"], "wall_s": res["wall_s"],
              "contention": res["contention"], "checks": checks, "sizes": sizes,
              "phase_s": phases, "total_s": time.time() - t_start}
    if a.trace:
        detail["layers"] = res["layers"]
        detail["untagged_sites"] = res["untagged_sites"]
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": len(ok_flags), "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
