#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source on first use (sbt,
offline), then runs the workload in one JVM on local[nproc]. The last line
of standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
GATE_DATA = os.path.join(HERE, "data", "sf0.001")

# Sizes are chosen so one run, set-up included, stays well under a minute
# on a 4-core box; see README.md.
WORKLOADS = {
    "build_ungrouped": [],
    "gate": ["--data", GATE_DATA,
             "--expected", os.path.join(HERE, "gate_expected.tsv")],
}
KERNELS = ["cm", "topk", "hll", "kll", "tdigest", "bloom"]
E2E = ["setup_s", "pass_s", "geomean_s"]
GROUPS = ["sketch", "stream"]
LAYERS = ["run", "graft.data", "graft.agg", "graft.queries", "graft.streaming", "spark"]
JAVA_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def driver_mem():
    """Half the box's memory, clamped to 2..8 GB: the tier-1 test sizing."""
    g = mem_total_kb() // 2097152
    return "%dg" % min(8, max(2, g))


def cpu_times():
    """The host's aggregate CPU times in clock ticks (/proc/stat), and the
    CPU seconds this process's finished children have used."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        ticks = []
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ticks, ru.ru_utime + ru.ru_stime


def contention(c0, c1):
    """Host contention a run met, as shares of all CPU time between two
    cpu_times() readings: (steal, others). Steal is time the hypervisor
    gave to other guests; others is busy time not spent by the run."""
    (t0, own0), (t1, own1) = c0, c1
    if len(t0) < 8 or len(t1) < 8:
        return float("nan"), float("nan")
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d[:8])
    if total <= 0:
        return 0.0, 0.0
    busy = d[0] + d[1] + d[2] + d[5] + d[6]  # user nice system irq softirq
    own = (own1 - own0) * os.sysconf("SC_CLK_TCK")
    return d[7] / total, max(0.0, busy - own) / total


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles library + benchmark once per source state; returns the
    runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    # -XX:-UsePerfData keeps the JVM from writing its counters to /tmp
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0:
        fail("build failed, see " + log)
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if not cps:
        fail("build printed no classpath, see " + log)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, args, tag):
    record = os.path.join(WORK, "record-%s.json" % tag)
    if os.path.exists(record):
        os.remove(record)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + driver_mem(), "-Xms1g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
            "-Dperfbench.work=" + WORK,
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args + ["--out", record]
    log = os.path.join(WORK, "run-%s.log" % tag)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded %d s, see %s" % (RUN_TIMEOUT_S, log))
    if rc != 0 or not os.path.exists(record):
        fail("run failed (exit %d), see %s" % (rc, log))
    with open(record) as f:
        return json.load(f)


def op_medians(rec, kind="plain"):
    out = {}
    for o in rec["ops"]:
        xs = rec["samples"].get("%s/%s" % (kind, o["name"]))
        if xs:
            out[o["name"]] = stats.median(xs)
    return out


def e2e(rec, kind="plain"):
    """End-to-end metrics from one kind of pass ("plain" or "traced")."""
    med = op_medians(rec, kind)
    ops = [o for o in rec["ops"] if not o["anchor"]]
    missing = [o["name"] for o in rec["ops"] if o["name"] not in med]
    if missing:
        raise RuntimeError("no successful sample for " + ", ".join(missing))
    return {
        "setup_s": stats.median(rec["samples"][kind + "/setup"]),
        "pass_s": sum(med[o["name"]] for o in ops),
        "geomean_s": stats.geomean(med[o["name"]] for o in ops),
    }


def per_layer(rec):
    v = rec["values"]
    med = op_medians(rec)
    m = {k: v[k] for k in v if k.split(".")[0] in ("sketch", "agg", "data", "spark", "stream")}
    anchor = [o for o in rec["ops"] if o["anchor"]][0]
    m["data.scan_anchor_s"] = med[anchor["name"]]
    m["jvm.heap_peak_mb"] = v["jvm.heap_peak_mb"]
    for g in GROUPS:
        m["group.%s_s" % g] = sum(med[o["name"]] for o in rec["ops"]
                                  if o["group"] == g and not o["anchor"])
    for k in KERNELS:
        m["kernel.%s_s" % k] = sum(med[o["name"]] for o in rec["ops"] if o["kernel"] == k)
    spans = stats.attach_batches([stats.Span(*s) for s in rec["spans"]])
    selfs = stats.layer_self_times(spans)
    n = v["run.traced_passes"]
    for layer in LAYERS:
        m["self.%s_s" % layer] = selfs.get(layer, 0.0) / 1e9 / n
    plain, traced = e2e(rec, "plain"), e2e(rec, "traced")
    for k in E2E:
        m["trace.%s_overhead" % k] = traced[k] / plain[k] - 1 if plain[k] else 0.0
    return m, spans


UNITS = {"_s": "s", "_ms": "ms", "_us": "us", "_ns": "ns", "_mb": "MB",
         "_bytes": "bytes", "_mrows_s": "Mrows/s", "_ratio": "ratio",
         "_overhead": "ratio"}


def unit_of(name):
    for suf in sorted(UNITS, key=len, reverse=True):
        if name.endswith(suf):
            return UNITS[suf]
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail("library sources not found under " + LIB_SRC)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cp = build()
    tag = "%s-%d-%d" % (a.workload, a.seed, a.trace)
    t0, cpu0 = time.time(), cpu_times()
    rec = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace)]
                  + WORKLOADS[a.workload], tag)
    wall, (steal, others) = time.time() - t0, contention(cpu0, cpu_times())

    # human-readable record: host, per-operation order statistics
    v = rec["values"]
    med = op_medians(rec)
    anchor = [o for o in rec["ops"] if o["anchor"]][0]
    print("host nproc=%d mem_total_kb=%d jdk=%s spark=%s python=%s driver_mem=%s" % (
        os.cpu_count(), mem_total_kb(), rec["info"]["jdk"], rec["info"]["spark"],
        platform.python_version(), driver_mem()))
    print("run workload=%s seed=%d seconds=%g trace=%d passes=%d wall_s=%.1f steal=%.3f others=%.3f "
          "anchor_mrows_s=%.3f %s" % (
              a.workload, a.seed, a.seconds, a.trace, v["run.passes"], wall, steal, others,
              anchor["rows"] / med[anchor["name"]] / 1e6,
              " ".join("%s=%.2f" % (k[4:], v[k]) for k in sorted(v)
                       if k.startswith("run.") and k.endswith("_s"))))
    for o in rec["ops"]:
        xs = rec["samples"].get("plain/" + o["name"], [])
        if xs:
            hp = stats.highest_percentile(xs)
            print("op %-28s n=%d median_s=%.4f%s" % (
                o["name"], len(xs), stats.median(xs), " p%d_s=%.4f" % hp[:2] if hp else ""))
    for f in rec["failures"]:
        print("failure " + f)
    print("error_ratio=%.4f (%d failed of %d attempted)" % (
        rec["failed"] / max(1, rec["attempted"]), rec["failed"], rec["attempted"]))

    if a.trace:
        metrics, spans = per_layer(rec)
        trace_file = os.path.join(WORK, "trace-%s.json" % tag)
        with open(trace_file, "w") as f:
            json.dump({"spans": [s._asdict() for s in spans]}, f)
        total = sum(med[o["name"]] for o in rec["ops"] if not o["anchor"])
        top = sorted(((med[o["name"]], o["name"]) for o in rec["ops"] if not o["anchor"]),
                     reverse=True)[:3]
        print("trace spans=%d file=%s top_share=%s" % (len(spans), trace_file, ", ".join(
            "%s %.0f%%" % (n, 100 * t / total) for t, n in top)))
    else:
        metrics = e2e(rec)
    for k in sorted(metrics):
        print("metric %s = %.6g %s" % (k, metrics[k], unit_of(k)))

    print(json.dumps({
        "correct": rec["failed"] == 0 and rec["attempted"] > 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": metrics[k], "unit": unit_of(k)} for k in sorted(metrics)},
    }))


if __name__ == "__main__":
    main()
