#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the engine and the harness with sbt (once per source tree),
generate the input tables (once per checkout), derive the seeded inputs and
op sequence, then run the engine side (`perfbench.Main`) in a fresh JVM.
Before timing starts, every distinct (query, dataset) result is compared
with the query's DuckDB oracle, using scripts/check.py's canonicalisation.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones listed in
BENCHMARK.json, with --trace 1 the per-layer ones. The full report (both
groups plus the op sequence) and, when traced, the spans are kept under
perfbench/.work/reports/.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
RUN = WORK / "run"
RUN_DEADLINE_S = 170
PASS_SECONDS = 10  # nominal length of one timed pass
BUILD_TIMEOUT_S = 840
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def cpus():
    return len(os.sched_getaffinity(0))


# ---- build ---------------------------------------------------------------

def build():
    """Compile once per source tree; returns the runtime classpath."""
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        die("engine sources (src/main/scala) not found next to perfbench/")
    inputs = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala")) + [
        HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        die("build failed")
    cp = [l for l in out.stdout.splitlines() if l and not l.startswith("[")][-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(h.hexdigest())
    log(f"built in {time.time() - t0:.0f}s")
    return cp


def java(cp, args, tmp, **kw):
    # The root build's JVM settings (tiered C2, its driver heap), plus a
    # fixed set of JIT compiler threads, so their CPU time can be told apart
    # from the engine's.
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = ["java", *ADD_OPENS, f"-Xmx{heap}",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, *args]
    env = dict(os.environ, GRAFT_FIXTURES_DIR=str(ROOT / "fixtures"))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    return subprocess.Popen(cmd, cwd=RUN, env=env, **kw)


# ---- inputs --------------------------------------------------------------

def base_dataset(cp, scale):
    """The generated tables: a pure function of the scale and the generator,
    so written once per checkout."""
    gen = hashlib.sha256((HERE / "src" / "perfbench" / "Gen.scala").read_bytes()).hexdigest()
    data = WORK / "data" / f"base-{scale}-{gen[:12]}"
    done = data.parent / f"{data.name}.done"
    if not done.exists():
        shutil.rmtree(data, ignore_errors=True)
        data.parent.mkdir(parents=True, exist_ok=True)
        log(f"generating {data.name}")
        p = java(cp, ["perfbench.Gen", str(data), str(scale)], RUN / "tmp",
                 stdout=sys.stderr, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=600)
        except subprocess.TimeoutExpired:
            p.kill()
            code = p.wait()
        if code != 0:
            die("dataset generation failed")
        done.write_text("")
    return data


def variant(base, seed, keep=0.9):
    """A seeded corpus variant: documents/embeddings rows are kept by the md5
    of (seed, id) on the shared doc_id/vec_id key; the other tables are
    copied unchanged."""
    import duckdb
    d = RUN / "datasets" / "variant"
    d.mkdir(parents=True)
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            shutil.copyfile(base / f"{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{base}/{t}.parquet') "
            f"WHERE substr(md5('{seed}:' || {key}::VARCHAR), 1, 2) < '{int(keep * 256):02x}' "
            f"ORDER BY {key}) TO '{d}/{t}.parquet' (FORMAT parquet)")
    con.close()
    return d


def op_sequence(name, w, seed, seconds):
    """Whole passes over the workload's queries; the pass count follows
    from the run length, so one seed always gives the same op sequence."""
    queries = [q for qs in w["queries"].values() for q in qs]
    rng = random.Random(f"{name}/{seed}")
    passes = []
    for p in range(max(1, round(seconds / PASS_SECONDS))):
        order = list(queries)
        if w["order"] == "shuffled":
            rng.shuffle(order)
        passes.append([{"query": q, "ds": 0} for q in order])
    return passes


# ---- oracle --------------------------------------------------------------

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(cols, rows):
    """scripts/check.py's canonical form: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def digest(obj):
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def content_hash(d):
    h = hashlib.sha256()
    for t in TABLES:
        h.update((d / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def check_pairs(manifest):
    """Compares each verified result with its DuckDB oracle; returns the
    failing pair ids. Oracle results are cached by (SQL, table contents)."""
    import duckdb
    import pyarrow.dataset as pds
    cache_dir = WORK / "oracle"
    cache_dir.mkdir(parents=True, exist_ok=True)
    cons, hashes, failed = {}, {}, []
    for pair in manifest:
        name, ds = pair["query"], Path(pair["dataset"])
        reason = pair["error"]
        if reason is None and pair["oracle_sql"] is None:
            reason = "no oracle SQL registered"
        if reason is None:
            if ds not in hashes:
                hashes[ds] = content_hash(ds)
            key = digest([pair["oracle_sql"], hashes[ds]])
            cached = cache_dir / f"{key}.json"
            if cached.exists():
                expect = json.loads(cached.read_text())
            else:
                if ds not in cons:
                    con = duckdb.connect()
                    con.execute("SET threads=2")
                    for t in TABLES:
                        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{ds}/{t}.parquet'")
                    cons[ds] = con
                try:
                    res = cons[ds].sql(pair["oracle_sql"])
                    oc, orows = canon(res.columns, res.fetchall())
                    expect = {"columns": oc, "rows": len(orows), "digest": digest(orows)}
                except Exception as e:
                    expect = {"error": f"oracle error: {e}"}
                cached.write_text(json.dumps(expect))
            if "error" in expect:
                reason = expect["error"]
            else:
                tab = pds.dataset(pair["result"]).to_table()
                sc, srows = canon(tab.column_names,
                                  [tuple(r[c] for c in tab.column_names) for r in tab.to_pylist()])
                if sc != expect["columns"]:
                    reason = f"columns differ spark={sc} oracle={expect['columns']}"
                elif len(srows) != expect["rows"]:
                    reason = f"rows spark={len(srows)} oracle={expect['rows']}"
                elif digest(srows) != expect["digest"]:
                    reason = "row values differ from the oracle"
        if reason is not None:
            log(f"FAIL {name} on {ds.name}: {reason}")
            failed.append(pair["id"])
    for con in cons.values():
        con.close()
    return failed


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input size as a multiple of sf0.1 (default: workloads.json)")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload}")
    w = spec["workloads"][a.workload]

    WORK.mkdir(parents=True, exist_ok=True)
    lock = open(WORK / "lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)  # runs in one checkout share .work/run
    cp = build()
    start = time.time()
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("tmp", "local", "verify", "passes"):
        (RUN / d).mkdir(parents=True)
    base = base_dataset(cp, a.scale or spec["datasets"]["base_scale"])
    passes = op_sequence(a.workload, w, a.seed, a.seconds)
    fresh = w["inputs"] == "seeded_variant"
    datasets = [variant(base, a.seed) if fresh else base]
    inputs = [content_hash(d) for d in datasets]

    reports = WORK / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    plan = {
        "trace": bool(a.trace), "cpus": cpus(),
        "queries": [{"name": q, "module": m} for m, qs in w["queries"].items() for q in qs],
        "passes": passes,
        "datasets": [str(d) for d in datasets], "fresh_copy_per_pass": fresh,
        "tail_percentile": w["tail_percentile"], "warmup_passes": w["warmup_passes"],
        "local_dir": str(RUN / "local"), "verify_dir": str(RUN / "verify"),
        "pass_dir": str(RUN / "passes"),
        "report": str(reports / f"{tag}.json"), "spans": str(reports / f"{tag}.spans.jsonl"),
    }
    (RUN / "plan.json").write_text(json.dumps(plan))
    Path(plan["report"]).unlink(missing_ok=True)

    proc = java(cp, ["perfbench.Main", str(RUN / "plan.json")], RUN / "tmp",
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(max(1.0, start + RUN_DEADLINE_S - time.time()), proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_VERIFY "):
                manifest = json.loads(Path(line.split(" ", 1)[1].strip()).read_text())
                t0 = time.time()
                failed = check_pairs(manifest)
                log(f"oracle check of {len(manifest)} pairs took {time.time() - t0:.1f}s")
                proc.stdin.write(json.dumps({"failed": failed}) + "\n")
                proc.stdin.flush()
            else:
                sys.stderr.write(line)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(RUN, ignore_errors=True)
    if code != 0 or not Path(plan["report"]).exists():
        die(f"engine run failed (exit {code})", 3)

    report = json.loads(Path(plan["report"]).read_text())
    report["inputs"] = inputs
    Path(plan["report"]).write_text(json.dumps(report))
    group = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in bench[group]:
        if m["name"] not in report[group]:
            die(f"metric {m['name']} missing from the report", 3)
        got = report[group][m["name"]]
        if got["unit"] != m["unit"]:
            die(f"metric {m['name']} reported in {got['unit']}, declared {m['unit']}", 3)
        metrics[m["name"]] = got
    if report["failed_queries"]:
        log(f"failed queries: {report['failed_queries']}")
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
