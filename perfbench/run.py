#!/usr/bin/env python3
"""Benchmark of the archive engine: `backfill`, `ingest` and `query`.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run generates its inputs from
`--seed` (perfbench/gen.py), runs one JVM on local[N] (N = nproc, at most
4), checks every output, and prints its metrics; the last stdout line is
one JSON object {"correct", "attempted", "failed", "metrics"}. `--trace 1`
reports the per-layer metrics instead of the end-to-end ones. `--workload
all` runs every workload untraced and traced and prints every metric and
the tracing overhead. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("backfill", "ingest", "query")
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")
EXPECTED = os.path.join(HERE, "expected_query.json")
# Per-layer metric prefixes each workload measures; a layer a workload does
# not call reports 0.
OWN_LAYERS = {"backfill": ("sources.", "sink.", "backfill.", "spark.", "jvm."),
              "ingest": ("streaming.", "sink.", "spark.", "jvm."),
              "query": ("operators.", "plans.", "spark.", "jvm.")}
# Options the JVM needs when Spark runs outside spark-submit (the list in
# the repository's build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(n, 4)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for root, _, fs in os.walk(d):
            if "target" in root.split(os.sep):
                continue
            files += [os.path.join(root, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(timeout):
    """Build when the sources changed since the last build; return the
    runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], cwd=HERE, env=env,
                    timeout=timeout, log_path=None)
    lines = [x for x in out.splitlines() if x.startswith("/") and ".jar" in x]
    if not lines:
        sys.exit("[perfbench] build failed:\n" + out[-4000:])
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_child(cmd, cwd, env, timeout, log_path):
    """Run `cmd` in its own process group; on timeout or interrupt kill the
    whole group and wait for it. Returns combined output (or writes it to
    `log_path`)."""
    out = open(log_path, "w") if log_path else subprocess.PIPE
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        text, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if log_path:
            out.close()
    if p.returncode != 0:
        tail = text if text is not None else open(log_path).read()
        sys.exit(f"[perfbench] {cmd[0]} exited with {p.returncode}:\n{tail[-4000:]}")
    return text or ""


# ---- one run -------------------------------------------------------------

def generate(workload, seed, seconds, inp):
    if workload == "backfill":
        m = gen.gen_backfill(seed, os.path.join(inp, "hours"))
    elif workload == "ingest":
        # enough polls that the closed loop never runs dry within `seconds`;
        # the preload fills the 10-minute dedup watermark (150 events/s)
        m = gen.gen_ingest(seed, inp, polls=max(10, 2 + int(seconds * 2)), preload=90_000)
    else:
        m = gen.gen_query(seed, os.path.join(inp, "tables"))
    with open(os.path.join(inp, "manifest.json"), "w") as f:
        json.dump(m, f)
    return m


def run_once(workload, seed, seconds, trace, cp, record=False):
    run_dir = os.path.join(HERE, ".runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work, tmp = (os.path.join(run_dir, x) for x in ("input", "work", "tmp"))
    for d in (inp, work, tmp):
        os.makedirs(d)
    try:
        start = time.monotonic()
        generate(workload, seed, seconds, inp)
        log(f"{workload}: inputs for seed {seed} in {time.monotonic() - start:.1f} s")
        result = os.path.join(run_dir, "result.json")
        cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
               *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Main",
               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", "1" if trace else "0", "--input", inp, "--work", work,
               "--cpus", str(cpus()), "--result", result]
        if not record:  # a recording run checks against nothing
            cmd += ["--expected", EXPECTED]
        # a run must end within 180 s, building aside
        run_child(cmd, cwd=run_dir, env=dict(os.environ),
                  timeout=175 - (time.monotonic() - start),
                  log_path=os.path.join(run_dir, "jvm.log"))
        log(f"{workload}: run took {time.monotonic() - start:.1f} s")
        with open(result) as f:
            r = json.load(f)
        os.makedirs(RESULTS, exist_ok=True)
        name = f"{workload}-{'trace' if trace else 'e2e'}"
        shutil.copy(result, os.path.join(RESULTS, name + ".json"))
        if trace:
            shutil.copy(result + ".spans.jsonl", os.path.join(RESULTS, name + ".spans.jsonl"))
        return r
    except BaseException:
        jvm_log = os.path.join(run_dir, "jvm.log")
        if os.path.exists(jvm_log):
            with open(jvm_log) as f:
                log("JVM log tail:\n" + "".join(f.readlines()[-40:]))
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def metrics_of(r, trace, s):
    """The metrics object of the output line, in BENCHMARK.json's order."""
    own = OWN_LAYERS[r["workload"]]
    out = {}
    for m in s["per_layer"] if trace else s["end_to_end"]:
        src = r["layers"] if trace else r["e2e"]
        if m["name"] in src:
            v = src[m["name"]]
        elif trace and not m["name"].startswith(own):
            v = 0.0  # a layer this workload does not call
        else:
            sys.exit(f"[perfbench] {r['workload']} did not report {m['name']}")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def report(r, trace, s):
    w = r["workload"]
    print(f"host: {json.dumps(dict(r['host'], nproc=os.cpu_count()))}")
    for k in ("backfill_events_per_s", "ingest_events_per_s", "archive_bytes_per_input_byte",
              "ingest_batch_p95_ms", "query_mix_s", "query_geomean_ms", "polls"):
        if k in r:
            print(f"{w}.{k}: {r[k]}")
    for k, v in sorted(r["e2e_raw"].items()):
        print(f"{w}.{k} (as measured): {v:.6g}")
    probe = sorted(r["probe_ms"])
    print(f"{w}.probe_ms: median {probe[len(probe) // 2]:.1f} of {len(probe)}")
    print(f"{w}.failed_frac: {r['failed'] / max(r['attempted'], 1):.4f} "
          f"({r['failed']} of {r['attempted']})")
    for f in r["findings"]:
        print(f"{w} finding: {f}")
    ms = metrics_of(r, trace, s)
    for k, v in ms.items():
        print(f"{w}.{k}: {v['value']:.6g} {v['unit']}")
    if trace:
        for layer, t in sorted(r["self_time_ms"].items()):
            print(f"{w} self time [{layer}]: {t:.1f} ms")
        untraced = os.path.join(RESULTS, f"{w}-e2e.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            for k, v in sorted(r["e2e"].items()):
                if k in base:
                    print(f"{w} tracing overhead {k}: {v - base[k]:+.6g}")
    return ms


def main():
    # a terminated run still stops its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write the query results observed at this seed as expected_query.json")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] engine sources (src/main/scala/graft) not found next to perfbench/")
    s = spec()
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    cp = classpath(timeout=850)
    if a.workload == "all":
        summary = {}
        for w in WORKLOADS:
            for trace in (False, True):
                r = run_once(w, a.seed, seconds, trace, cp)
                summary[f"{w}{'-trace' if trace else ''}"] = report(r, trace, s)
        print(json.dumps(summary))
        return
    r = run_once(a.workload, a.seed, seconds, bool(a.trace), cp, a.record_expected)
    if a.record_expected and a.workload == "query":
        with open(EXPECTED, "w") as f:
            json.dump(r["observed"], f, indent=1, sort_keys=True)
            f.write("\n")
        log(f"recorded {len(r['observed'])} expected query results")
    ms = report(r, bool(a.trace), s)
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": ms}))


if __name__ == "__main__":
    main()
