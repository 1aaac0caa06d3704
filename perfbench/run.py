#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload analytics_curated --seed 1 --seconds 10 --trace 0

Builds the library together with the harness in ``perfbench/`` (once
per source state, cached under ``.bench_build/``), generates the
workload's inputs from ``--seed``, computes the independent reference,
runs the workload in one ``local[nproc]`` Spark JVM for ``--seconds``,
checks every operation's output, and prints the metrics by name with
their units. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exit status is non-zero when any output is wrong or the run fails.

See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("analytics_curated", "corpus_prep")
# set-up repetitions per run, in the JVM (session start + the workload's
# set-up) and in Python (inputs + reference); setup_s is the sum of the
# two medians. The corpus set-up takes a fraction of a second, so more
# repetitions cost nothing; the analytics inputs take a few seconds of
# deterministic work, generated once.
SETUPS = {"analytics_curated": 2, "corpus_prep": 7}
PY_SETUPS = {"analytics_curated": 1, "corpus_prep": 7}
TAXI_ROWS = 100_000     # raw trips in the analytics_curated drop
WARM_TAXI_ROWS = 10_000
CORPUS_DOCS = 6_000
HEAP = "2g"            # fixed and pre-touched, so peak RSS does not follow heap growth
CLASS_ARCHIVE = "classes.jsa"
RUN_LIMIT_S = 170       # whole run, including set-up, stays under 180 s
KINDS = ("hourly_fare", "trips_by_dow", "busiest_pickup", "busiest_dropoff",
         "monthly_trend", "zone_borough_join")
# per-layer metrics a workload does not exercise read 0
NOT_EXERCISED = {
    "analytics_curated": ("taxi.", "pipeline.", "functions.", "dedup."),
    "corpus_prep": ("taxi.", "analytics."),
}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build compiles."""
    h = hashlib.sha256()
    files = sorted(list((ROOT / "src" / "main").rglob("*")) + list((HERE / "src").rglob("*"))
                   + [HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt unless this source state is
    already built; returns the runtime classpath."""
    out = ROOT / ".bench_build"
    out.mkdir(exist_ok=True)
    (out / "tmp").mkdir(exist_ok=True)
    stamp = source_stamp()
    cp_file = out / "perfbench-target" / "classpath.txt"
    with open(out / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / "stamp").exists() and (out / "stamp").read_text() == stamp and cp_file.exists():
            return cp_file.read_text().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        submit = shutil.which("spark-submit")
        if "SPARK_HOME" not in env and submit:
            env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                "-XX:-UsePerfData", f"-Djava.io.tmpdir={out / 'tmp'}"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building library + harness (sbt compile)")
        t0 = time.time()
        with open(out / "build.log", "w") as blog:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                               cwd=HERE, env=env, stdout=blog, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=850)
        if p.returncode != 0 or not cp_file.exists():
            sys.stderr.write((out / "build.log").read_text()[-4000:])
            fail("build failed", 3)
        cp = cp_file.read_text().strip()
        dump_class_archive(cp, out)
        (out / "stamp").write_text(stamp)
        log(f"built in {time.time() - t0:.1f} s")
        return cp


def java_cmd(cp, main, args, work):
    """The benchmark's JVM command line: fixed, pre-touched heap (so peak
    RSS does not follow heap growth), the client (C1) JIT compiler only,
    and the class-data-sharing archive when the build made one.

    C1 only: with the optimizing (C2) compiler a fresh JVM keeps getting
    faster for minutes, so a run of about a minute measures how far the
    compiler got, which varies with the host's load. With C1 alone the
    code is compiled within the warm-up, and the measured units of a run
    take the same time to about 2% (see README.md)."""
    archive = ROOT / ".bench_build" / CLASS_ARCHIVE
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + ([f"-XX:SharedArchiveFile={archive}"] if archive.exists() else [])
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main] + args)


def dump_class_archive(cp, out):
    """Record the classes a Spark session loads into a class-data-sharing
    archive, so each run's JVM maps them instead of loading them from the
    jars (about half of a cold session start). Best effort: without the
    archive the runs only start slower."""
    archive = out / CLASS_ARCHIVE
    archive.unlink(missing_ok=True)
    work = out / "tmp" / "boot"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = java_cmd(cp, "perfbench.Boot", [str(work)], work)
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={archive}")
    with open(out / "archive.log", "w") as alog:
        p = subprocess.run(cmd, cwd=work, stdout=alog, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=300)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        archive.unlink(missing_ok=True)
        log("no class-data-sharing archive (see .bench_build/archive.log)")


RANGES = ("month", "quarter", "all")
ROUND = len(KINDS) * len(RANGES)   # requests in one round: every kind over every range
ROUNDS = 6                         # 108 requests leave ten beyond the nearest-rank p90


def make_requests(seed, pairs):
    """Requests for a list of (kind, range) pairs; the seed picks the
    months."""
    import random
    from gen_taxi import MONTHS
    rng = random.Random(seed * 7919 + 17)
    reqs = []
    for kind, span in pairs:
        y, m = rng.choice(MONTHS)
        if span == "month":
            reqs.append((kind, y, m, m))
        elif span == "quarter":
            q = (m - 1) // 3
            reqs.append((kind, y, 3 * q + 1, 3 * q + 3))
        else:
            reqs.append((kind, 0, 0, 0))
    return reqs


def sequence_pairs():
    """The measured sequence: ROUNDS rounds of ROUND requests. Request i
    has range i mod 3 and kind (i div 3) mod 6, so each round holds every
    (kind, range) pair once and the whole sequence holds 36 of each range
    and 18 of each kind. The order is the same for every seed, so where
    the costly whole-tree requests fall relative to the JVM's warm-up
    does not vary between seeds."""
    return [(KINDS[(i // 3) % len(KINDS)], RANGES[i % 3]) for i in range(ROUND * ROUNDS)]


# warm-up: every kind once and every range twice
WARM_PAIRS = [(k, RANGES[j % 3]) for j, k in enumerate(KINDS)]


def write_requests(path, reqs):
    Path(path).write_text("".join(f"{k}\t{y}\t{m1}\t{m2}\n" for k, y, m1, m2 in reqs))


def setup_inputs(workload, seed, inp):
    """Generate the inputs and the reference; returns (sizes, reference)."""
    if inp.exists():
        shutil.rmtree(inp)
    inp.mkdir(parents=True)
    if workload == "corpus_prep":
        import gen_corpus
        sizes, truth = gen_corpus.generate(seed, str(inp / "corpus"), CORPUS_DOCS)
        return sizes, truth
    import gen_taxi
    import reference
    sizes = gen_taxi.generate(seed, str(inp / "raw"), TAXI_ROWS)
    ref = reference.taxi_reference(str(inp / "raw"), str(inp / "raw" / "taxi_zone_lookup.csv"))
    return sizes, ref


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def run_jvm(cp, workload, work, seconds, trace, cores, deadline):
    cmd = java_cmd(cp, "perfbench.Main", [
        "--workload", workload, "--work", str(work), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--cores", str(cores),
        "--setups", str(SETUPS[workload])], work)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    with open(work / "jvm.log", "w") as jlog:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        rc = None
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:  # timed out or interrupted: never leave the JVM behind
                p.kill()
                p.wait()
    if rc != 0 or not (work / "jvm.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        fail("the benchmark JVM timed out" if rc is None else f"the benchmark JVM exited with {rc}", 4)
    return json.loads((work / "jvm.json").read_text())


def check(workload, jvm, work, ref, reqs):
    """Check every operation's output; returns (failed op indices, extras)."""
    import reference
    failed, extra = set(), {}
    ops = jvm["ops"]
    for o in ops:
        if not o["ok"]:
            failed.add(o["i"])
            log(f"operation {o['i']} failed: {o['error']}")
    done = [o for o in ops if o["ok"]]
    if workload == "analytics_curated":
        # every set-up build is a batch run: check each tree it wrote
        trees = sorted(p for p in (work / "out").glob("tree_*") if p.is_dir())
        for tree in trees:
            counts = json.loads(Path(f"{tree}.counts.json").read_text())
            manifest = reference.load_jsonl(f"{tree}.manifest.jsonl")
            problems = reference.check_curated(tree, ref, counts, manifest)
            if problems:
                log(f"set-up tree {tree.name} wrong: {problems[:3]}")
                failed.update(o["i"] for o in done)
        extra["out_bytes"] = reference.tree_bytes(trees[-1])
        extra["curated_rows"] = sum(counts.values())
        answers = {}
        results = reference.load_jsonl(work / "out" / "results.jsonl")
        for line in results:
            req = reqs[line["i"] % len(reqs)]
            if req not in answers:
                answers[req] = reference.expected_answer(ref["parts"], req)
            if not reference.answer_matches(req[0], line["rows"], answers[req]):
                failed.add(line["i"])
                log(f"request {line['i']} {req} wrong: {line['rows'][:3]} != {answers[req][:3]}")
        failed |= {o["i"] for o in done} - {line["i"] for line in results}
    else:
        recalls, sizes = [], []
        for o in done:
            d = work / "out" / f"op_{o['i']}"
            problems, recall = reference.check_corpus_op(d, ref)
            if problems:
                failed.add(o["i"])
                log(f"operation {o['i']} wrong: {problems[:3]}")
            recalls.append(recall)
            sizes.append(reference.tree_bytes(d / "kept"))
            extra.setdefault("prepared_rows", sum(1 for _ in open(d / "prepared.tsv")))
            shutil.rmtree(d)
        extra["recall"] = statistics.median(recalls) if recalls else 0.0
        extra["out_bytes"] = statistics.median(sizes) if sizes else 0.0
    return failed, extra


def end_to_end(workload, jvm, setup_py, sizes, extra):
    walls = [o["wall_s"] for o in jvm["ops"] if o["ok"]]
    setup = statistics.median(setup_py) + statistics.median(jvm["setup_jvm_s"])
    if workload == "analytics_curated":
        # the unit is one round: every kind over every range once
        rounds = {}
        for o in jvm["ops"]:
            rounds.setdefault(o["i"] // ROUND, []).append(o)
        units = [sum(o["wall_s"] for o in r) for r in rounds.values()
                 if len(r) == ROUND and all(o["ok"] for o in r)]
        wall = statistics.median(units) if units else statistics.median(walls)
        p50, p90 = statistics.median(walls), percentile(walls, 0.9)
    else:
        # the corpus has no requests: its latency figures are the median
        # pass, the same number as wall_s (a stand-in, see README.md)
        units = walls
        wall = p50 = p90 = statistics.median(walls)
    log("units_s: " + " ".join(f"{u:.3f}" for u in units))
    return {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
        "query_p50_s": (p50, "s"),
        "query_p90_s": (p90, "s"),
        "out_bytes_per_in_byte": (extra["out_bytes"] / sizes["bytes"], "ratio"),
        # the taxi data plants no near-duplicates: nothing planted was missed
        "neardup_recall": (extra.get("recall", 1.0), "ratio"),
        "peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
    }


def per_layer(workload, jvm, sizes, extra, names_units):
    layers = dict(jvm["layers"], **{"jvm.heap_after_gc_mb": jvm["heap_after_gc_mb"]})
    if workload == "analytics_curated":
        layers["taxi.keep_ratio"] = extra["curated_rows"] / sizes["rows"]
    else:
        layers["pipeline.keep_ratio"] = extra["prepared_rows"] / sizes["rows"]
    out = {}
    for name, unit in names_units:
        if name in layers:
            out[name] = (layers[name], unit)
        elif name.startswith(NOT_EXERCISED[workload]):
            out[name] = (0.0, unit)
        else:
            fail(f"per-layer metric {name} was not measured", 5)
    return out


def main():
    # a terminated run unwinds normally, so the JVM and work dir go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no library sources under {ROOT / 'src' / 'main' / 'scala' / 'graft'}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cores = len(os.sched_getaffinity(0))
    cp = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)  # a fresh build gets its own budget
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "out").mkdir()
    try:
        # set-up, several times: input generation + reference (the JVM
        # adds session start and, for analytics, the curated-tree build)
        setup_py = []
        for _ in range(1 if a.trace else PY_SETUPS[a.workload]):
            t0 = time.perf_counter()
            sizes, ref = setup_inputs(a.workload, a.seed, work / "in")
            setup_py.append(time.perf_counter() - t0)
        reqs = None
        if a.workload == "analytics_curated":
            reqs = make_requests(a.seed, sequence_pairs())
            write_requests(work / "in" / "requests.tsv", reqs)
            write_requests(work / "in" / "warm_requests.tsv",
                           make_requests(a.seed + 100_000, WARM_PAIRS))
            import gen_taxi
            gen_taxi.generate(a.seed + 100_000, str(work / "warm" / "raw"), WARM_TAXI_ROWS,
                              gen_taxi.MONTHS[:3])

        t_jvm = time.time()
        jvm = run_jvm(cp, a.workload, work, a.seconds, a.trace, cores, deadline)
        t_check = time.time()
        failed, extra = check(a.workload, jvm, work, ref, reqs)
        log(f"run time: inputs {t_jvm - started:.1f} s, jvm {t_check - t_jvm:.1f} s, "
            f"checks {time.time() - t_check:.1f} s")
        attempted = len(jvm["ops"])
        if not any(o["ok"] for o in jvm["ops"]):
            fail("no operation succeeded", 1)
        if a.trace and not jvm["capture_complete"]:
            # an incomplete capture would undercount: report nothing
            fail("listener capture incomplete: Spark events still pending after the drain", 6)
        if a.trace:
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            metrics = per_layer(a.workload, jvm, sizes, extra, names)
        else:
            metrics = end_to_end(a.workload, jvm, setup_py, sizes, extra)

        log(f"workload={a.workload} seed={a.seed} trace={a.trace} cores={jvm['cores']} "
            f"heap_max_mb={jvm['heap_max_mb']:.0f} heap_after_gc_mb={jvm['heap_after_gc_mb']:.0f} "
            "closed loop, 1 client")
        log(f"inputs: rows={sizes['rows']} bytes={sizes['bytes']} files={sizes['files']}")
        for when in ("start", "end"):
            s = jvm["stamps"][when]
            log(f"stamp {when}: loadavg={s['loadavg']} calibration_s={s['calibration_s']:.4f}")
        log(f"operations: attempted={attempted} failed={len(failed)} "
            f"boot_s={jvm['boot_s']:.2f} warmup_s={jvm['warmup_s']:.2f} settle_s={jvm['settle_s']:.2f} setups_s={[round(x, 2) for x in jvm['setup_jvm_s']]} "
            f"measured_s={jvm['measured_s']:.2f} wall_s of each: "
            + " ".join(f"{o['wall_s']:.3f}" for o in jvm["ops"][:12])
            + (" ..." if attempted > 12 else ""))
        for name, (value, unit) in metrics.items():
            log(f"metric {name} = {value:.6g} {unit}")
        log(f"metric error_rate = {len(failed) / max(1, attempted):.6g} ratio")
        correct = not failed
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        sys.exit(0 if correct else 1)
    finally:
        spans = work / "spans.jsonl"
        if spans.exists():
            shutil.copy(spans, ROOT / ".bench_work" / f"spans-{a.workload}-{a.seed}.jsonl")
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
