#!/usr/bin/env python3
"""Benchmark of the lake pipeline, lake hunting and the query registry.

Usage (from the repository root):
  python3 lakebench/run.py --workload {ingest,hunt,registry} --seed N \
      --seconds S --trace {0,1}

Builds the engine and the benchmark's Scala code from source on first use (sbt,
in lakebench/, output under lakebench/target) and dumps a class-data-sharing
archive for the JVMs of later runs, runs one workload in its own
JVM inside a private work directory that is removed at exit, checks the
outputs against computations made apart from the engine (checks.py), writes
the run's settings, op series and metrics to lakebench/results/, and prints
one JSON object as the last line of standard output.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import checks
import tables

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HEAP = "3g"
# Spark task threads. Most stages of these workloads run one or two tasks,
# so two threads lose little, and they leave the other cores of a small
# shared machine to the JIT compiler, GC and the driver thread: op times
# then vary less from run to run.
THREADS = min(2, os.cpu_count() or 1)
JVM_TIMEOUT_S = 165

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "cpu_s_per_op": "s",
              "scan_mb_per_op": "MB", "retained_heap_mb": "MB"}
PER_LAYER = {
    "sources.frame_s": "s", "transform.map_s": "s", "transform.rows_dropped": "count",
    "schema.resolve_s": "s", "schema.rows_sidelined": "count",
    "lake.append_s": "s", "lake.files_written": "count", "lake.mb_written": "MB",
    "lake.input_passes": "ratio", "lake.read_plan_s": "s", "lake.partitions_scanned": "count",
    "lake.files_scanned": "count",
    "operators.detect_s": "s", "operators.matches": "count", "operators.alert_s": "s",
    "operators.alerts": "count", "config.rules_load_s": "s",
    "queries.relational_s": "s", "queries.log_analytics_s": "s", "queries.alerting_s": "s",
    "queries.search_s": "s", "queries.vectors_s": "s", "queries.text_pipeline_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_max_s": "s", "spark.planning_s": "s", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s",
}
# measured by the hunt workload only, which runs by hand (see README.md)
HUNT_LAYERS = {"operators.enrich_s": "s"}
JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input of the build, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(BENCH, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and dump the class-data archive, once per source tree.

    Returns the runtime classpath and the JVM options that map the archive
    (none if the archive could not be dumped).
    """
    stamp = os.path.join(BENCH, "target", "lakebench-build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("hash") == digest and (s["archive"] is None or os.path.exists(s["archive"])):
            return s["classpath"], archive_opts(s["archive"])
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=540, start_new_session=True)
    sys.stderr.write(out.stdout[-4000:])
    if out.returncode != 0:
        raise SystemExit(f"build failed (sbt exit {out.returncode})")
    cp = [l for l in out.stdout.splitlines() if "lakebench" in l and ":" in l
          and not l.startswith("[")][-1].strip()
    archive = os.path.join(BENCH, "target", "lakebench.jsa")
    if not dump_archive(cp, archive):
        archive = None
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cp, "archive": archive}, fh)
    return cp, archive_opts(archive)


def archive_opts(archive):
    return [f"-XX:SharedArchiveFile={archive}"] if archive else []


def dump_archive(cp, archive):
    """Dump the classes that one round of each workload loads (Spark, Hadoop,
    parquet, the engine) into a class-data-sharing archive, so that each
    run's JVM maps them instead of loading and verifying them again. It
    cuts about 5 s from a session's start and about 4 s from the first op,
    the same for every tree that is measured. Returns whether it was dumped;
    without it the runs load every class themselves, only more slowly.
    """
    log("dumping the class-data archive (one round of each workload)")
    if os.path.exists(archive):
        os.remove(archive)
    os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="archive-", dir=os.path.join(BENCH, "work"))
    try:
        os.makedirs(os.path.join(work, "tmp"))
        tables.generate(os.path.join(work, "tables"), 0)
        rc = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={archive}"],
                     ["--workload", "train", "--seed", "0", "--seconds", "0",
                      "--trace", "0", "--work", work, "--out", os.path.join(work, "r.json"),
                      "--bench", BENCH, "--tables", os.path.join(work, "tables"),
                      "--threads", str(THREADS)], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(archive):
        log(f"class-data archive not dumped (JVM exit {rc}); running without it")
        return False
    return True


def run_jvm(cp, jvm_opts, args, work):
    cmd = ["java"] + JVM_OPTS + jvm_opts + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                 "lakebench.Main"] + args
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def kind_p50(ops):
    """Geometric mean, over op kinds, of each kind's median op time. A plain
    median over a mix of kinds that take 0.3 s and 1.2 s jumps between
    kinds; this moves only as the kinds' own times move."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["seconds"])
    if not kinds:
        return float("nan")
    return statistics.geometric_mean([statistics.median(v) for v in kinds.values()])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "hunt", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if "GRAFT_CONF" in os.environ:
        # GraftSession.configure overlays it on every session: the run would
        # not measure the engine's own configuration
        raise SystemExit("GRAFT_CONF is set; unset it to run the benchmark")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"engine sources not found under {ROOT}/src/main/scala/graft")

    cp, jvm_opts = build()
    os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(BENCH, "work"))
    try:
        os.makedirs(os.path.join(work, "tmp"))
        tables_dir = ""
        if a.workload == "registry":
            tables_dir = os.path.join(work, "tables")
            t0 = time.monotonic()
            tables.generate(tables_dir, a.seed)
            log(f"tables generated in {time.monotonic() - t0:.1f} s")
        out = os.path.join(work, "result.json")
        t0 = time.monotonic()
        rc = run_jvm(cp, jvm_opts, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--work", work, "--out", out, "--bench", BENCH,
                          "--tables", tables_dir, "--threads", str(THREADS)], work)
        if rc != 0:
            raise SystemExit(f"benchmark JVM exited with {rc}")
        log(f"JVM ran {time.monotonic() - t0:.1f} s")
        with open(out) as fh:
            doc = json.load(fh)
        t0 = time.monotonic()
        problems, failed_ops = checks.check(a.workload, doc, tables_dir)
        log(f"outputs checked in {time.monotonic() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = doc["ops"]
    failed = sorted(set(failed_ops) | {o["index"] for o in ops if not o["ok"]})
    good = [o for o in ops if o["index"] not in failed]
    n = len(ops)
    timed = doc["timed_seconds"]
    if a.trace:
        layers = doc["layers"]
        names = dict(PER_LAYER, **(HUNT_LAYERS if a.workload == "hunt" else {}))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in names.items()}
    else:
        values = {
            "setup_s": doc["setup_s"],
            "ops_per_s": len(good) / timed,
            "op_p50_s": kind_p50(good),
            "cpu_s_per_op": doc["totals"]["cpu_s"] / n,
            "scan_mb_per_op": doc["totals"]["scan_mb"] / n,
            "retained_heap_mb": doc["retained_heap_mb"],
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    for p in problems:
        log(f"check failed: {p}")

    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    # halves of whole rounds (a middle round of an odd count is left out),
    # so both halves hold the same mix of op kinds
    size = len(doc["settings"]["round"])
    half = (n // size) // 2 * size
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "settings": dict(doc["settings"], heap=HEAP, threads=THREADS),
        "setup_phases_s": doc["setup_phases_s"],
        "metrics": metrics, "attempted": n, "failed": len(failed), "problems": problems,
        "warmup_series": [[k, round(t, 4)] for k, t in doc["warmup_ops"]],
        "op_series": [[o["kind"], round(o["seconds"], 4)] for o in ops],
        "first_half_p50_s": kind_p50(ops[:half]),
        "second_half_p50_s": kind_p50(ops[n - half:]),
        "op_p50_s_all": kind_p50(ops),
        "errors": doc["errors"], "layers": doc.get("layers"),
    }
    if a.trace:
        record["spans"] = doc.get("spans")
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(BENCH, "results", name), "w") as fh:
        json.dump(record, fh, indent=1)

    print(json.dumps({"correct": not problems, "attempted": n, "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
