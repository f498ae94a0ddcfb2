#!/usr/bin/env python3
"""graft's benchmark: one seeded workload per run, metrics by name and unit.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload analytics|curation|lake_writes \
        --seed N --seconds S --trace 0|1

The script
  1. builds graft and the harness with sbt (once per source tree; the
     classpath is cached under perfbench/.work),
  2. generates the run's inputs from the seed: a derivation of the base
     tables in perfbench/corpus and, for lake_writes, raw CSV/JSONL for the
     ETL DAG,
  3. runs the Scala harness (graft.perfbench.Main) on `local[4]` in a
     private working directory, which it removes afterwards,
  4. checks every output against the DuckDB oracle (tools/check.py,
     cached per seed and source tree) and every measured operation's row
     count and digest against the checked output,
  5. prints a report and, as its last line, one JSON object with the
     end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("analytics", "curation", "lake_writes")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Fact tables lose a seed-chosen tenth of their rows, by key: whole orders
# with their line items, so every remaining foreign key still resolves.
FACT_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey",
             "events": "event_id", "documents": "doc_id",
             "embeddings": "vec_id"}
INPUT_REPEATS = 3
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


CHILDREN = []


def run_child(cmd, timeout, **kw):
    """Run a command in its own process group and wait for it; on a
    timeout, or when this script is told to stop, kill the whole group
    and wait until it has ended. Returns the exit code."""
    proc = subprocess.Popen(cmd, start_new_session=True,
                            stdin=subprocess.DEVNULL, **kw)
    CHILDREN.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout:.0f}s")
    finally:
        CHILDREN.remove(proc)


def stop(signum, _frame):
    for proc in CHILDREN:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    sys.exit(128 + signum)


# -- build ---------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_build(src_hash):
    """The harness classpath for this source tree; builds it if needed.
    Returns (classpath, seconds spent building)."""
    stamp = os.path.join(WORK, f"classpath-{src_hash}.txt")
    if os.path.exists(stamp):
        cp = open(stamp).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, 0.0
    t0 = time.monotonic()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log, out = (os.path.join(WORK, f"build.{x}") for x in ("log", "out"))
    with open(log, "w") as err, open(out, "w") as cp_out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=cp_out,
                       stderr=err)
    # the exported classpath is the last line sbt prints
    lines = [l for l in open(out).read().splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log} and {out}")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail(f"build printed no usable classpath; see {log}")
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp, time.monotonic() - t0


# -- seeded inputs -------------------------------------------------------

def key_kept(seed, key):
    h = hashlib.blake2b(f"{seed}:{key}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "little") % 10 != 0


def derive_corpus(out, seed):
    """The seed's tables: base schemas, one parquet file per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        tab = pq.read_table(os.path.join(HERE, "corpus", f"{t}.parquet"))
        if t in FACT_KEYS:
            keys = tab.column(FACT_KEYS[t]).to_pylist()
            tab = tab.filter(pa.array([key_kept(seed, k) for k in keys]))
        order = list(range(tab.num_rows))
        random.Random(f"{seed}:{t}").shuffle(order)
        pq.write_table(tab.take(order), os.path.join(out, f"{t}.parquet"))


VENDORS = [("CMT", "Creative Mobile"), ("VTS", "VeriFone"),
           ("DDS", "Digital Dispatch"), ("NYC", "Metro Cab")]
TRIPS, TWEETS = 3000, 2000


def write_raw(out, seed):
    """Raw inputs of the ETL DAG: two overlapping trip CSV dumps (the
    second re-delivers the last tenth of the first), a tweet JSONL dump
    and a vendor JSONL dimension."""
    rnd = random.Random(f"{seed}:raw")
    os.makedirs(os.path.join(out, "trips"), exist_ok=True)
    header = ("trip_id,vendor_id,pickup_datetime,dropoff_datetime,"
              "passenger_count,trip_distance,pickup_longitude,pickup_latitude,"
              "dropoff_longitude,dropoff_latitude,payment_type,fare_amount,"
              "tip_amount,total_amount")
    t0 = 1704067200  # 2024-01-01 00:00:00 UTC

    def ts(sec):
        return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))

    def cents(x):
        return f"{x // 100}.{x % 100:02d}"

    def geo(base):
        return f"{base + rnd.randrange(20000) / 1e5:.5f}"

    rows = []
    for i in range(1, TRIPS + 1):
        pick = t0 + rnd.randrange(30 * 86400)
        drop = pick + 60 + rnd.randrange(3600)
        # every 20th trip has no passenger count: coerced to 1
        pax = "" if i % 20 == 0 else str(1 + rnd.randrange(5))
        fare, tip = 250 + rnd.randrange(6000), rnd.randrange(1500)
        rows.append(",".join([
            str(seed % 100000 * 100000 + i), rnd.choice(VENDORS)[0], ts(pick),
            ts(drop), pax, cents(rnd.randrange(2000)), geo(-74.1), geo(40.6),
            geo(-74.1), geo(40.6), rnd.choice(["CRD", "CSH"]), cents(fare),
            cents(tip), cents(fare + tip)]))
    with open(os.path.join(out, "trips", "part1.csv"), "w") as fh:
        fh.write("\n".join([header] + rows) + "\n")
    with open(os.path.join(out, "trips", "part2.csv"), "w") as fh:
        fh.write("\n".join([header] + rows[-TRIPS // 10:]) + "\n")
    words = ["data", "spark", "pipeline", "lake", "stream", "graph"]
    with open(os.path.join(out, "tweets.jsonl"), "w") as fh:
        for i in range(1, TWEETS + 1):
            # skewed link popularity, so the top five are well separated
            ks = [min(rnd.randrange(40), rnd.randrange(40))
                  for _ in range(rnd.randrange(3))]
            fh.write(json.dumps({
                "id": i, "user": f"u{rnd.randrange(300)}", "lang": "en",
                "text": f"{rnd.choice(words)} note {i}",
                "urls": [f"https://example.org/{words[k % 6]}/{k}" for k in ks],
            }) + "\n")
    with open(os.path.join(out, "vendors.jsonl"), "w") as fh:
        for k, v in VENDORS:
            fh.write(json.dumps({"vendor_id": k, "vendor_name": v}) + "\n")


def generate_inputs(out, workload, seed):
    derive_corpus(out, seed)
    if workload == "lake_writes":
        write_raw(os.path.join(out, "raw"), seed)


# -- oracle --------------------------------------------------------------

def oracle_cache(workload, seed, src_hash):
    return os.path.join(WORK, "oracle", f"{src_hash}-{workload}-{seed}.json")


def oracle_verdicts(result, cache):
    """{query: (ok, message, verified digest)}: the DuckDB compare of the
    set-up pass's outputs, cached per (source tree, workload, seed) once
    every output passed. A cached verdict's digest is the one verified
    when it was made."""
    if os.path.exists(cache):
        return {q: tuple(v) for q, v in json.load(open(cache)).items()}
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no cache files in the checkout
    import check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(result["check_corpus"], result["check_dir"])
    msgs = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("PASS ") or line.startswith("FAIL "):
            name = line[5:].split(" ")[0].rstrip(":")
            msgs[name] = (line.startswith("PASS "), line)
    verdicts = {}
    for q, ref in result["reference"].items():
        if "error" in ref:
            verdicts[q] = (False, f"FAIL {q}: {ref['error']}", None)
        else:
            ok, msg = msgs.get(q, (False, f"FAIL {q}: no oracle verdict"))
            verdicts[q] = (ok, msg, ref["digest"])
    if all(v[0] for v in verdicts.values()):
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as fh:
            json.dump(verdicts, fh)
    return verdicts


# -- metrics -------------------------------------------------------------

def tail(lat):
    """Highest percentile with at least ten samples beyond it: the 11th
    largest latency. Returns (value, percentile)."""
    n = len(lat)
    if n < 11:
        return max(lat), 100.0
    return sorted(lat)[n - 11], 100.0 * (n - 10) / n


def summarize(result, verdicts, setup_inputs_s):
    untraced = [p for p in result["passes"] if not p["traced"]]
    idx = {p["index"] for p in untraced}
    ops = [o for o in result["ops"] if o["pass"] in idx]
    bad = {}
    for o in result["ops"]:
        ok, msg, digest = verdicts.get(o["query"], (False, "no verdict", None))
        why = (o["error"] if o["error"] else
               msg if not ok else
               f"digest {o['digest']} != checked {digest}"
               if o["digest"] != digest else None)
        if why:
            bad.setdefault(o["query"], why)
            o["failed"] = True
    lat = [o["lat_s"] for o in ops]
    e2e = {
        "setup_s": (setup_inputs_s + result["jvm_setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
        "retained_heap_mb": (result["retained_heap_mb"], "MB"),
    }
    t, pct = tail(lat)
    attempted = len(result["ops"])
    failed = sum(1 for o in result["ops"] if o.get("failed"))
    return e2e, {"query_p50_s": statistics.median(lat), "query_tail_s": t,
                 "tail_pct": pct, "n_ops": len(lat), "attempted": attempted,
                 "failed": failed, "failed_frac": failed / attempted,
                 "failing": bad, "pass_walls": [p["wall_s"] for p in untraced]}


def self_time_table(trace):
    rows = [f"  {'layer':<18} {'self_s':>9} {'share':>7}"]
    for r in trace["self_time"]:
        rows.append(f"  {r['layer']:<18} {r['self_s']:>9.4f} {r['share']:>7.1%}")
    rows.append(f"  {'wall':<18} {trace['wall_s_per_traced_pass']:>9.4f}")
    return "\n".join(rows)


# -- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    src_hash = source_hash()
    cp, build_s = ensure_build(src_hash)
    cache = oracle_cache(a.workload, a.seed, src_hash)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        # set-up, part 1: the seed's inputs, generated INPUT_REPEATS times
        gen = []
        for i in range(INPUT_REPEATS):
            t0 = time.monotonic()
            out = os.path.join(run_dir, "input" if i == 0 else f"input-{i}")
            generate_inputs(out, a.workload, a.seed)
            gen.append(time.monotonic() - t0)
            if i:
                shutil.rmtree(out)
        cmd = (["java"] + [x for p in JDK_OPENS
                           for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Xmx2g", f"-Djava.io.tmpdir={run_dir}/tmp",
                "-cp", cp, "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--corpus", os.path.join(run_dir, "input"),
                "--oracle-sql", "0" if os.path.exists(cache) else "1"])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        log = os.path.join(run_dir, "harness.log")
        remaining = RUN_TIMEOUT_S - (time.monotonic() - T_START - build_s)
        with open(log, "w") as err:
            rc = run_child(cmd, max(remaining, 10), cwd=run_dir, env=env,
                           stdout=err, stderr=err)
        result_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"harness exited with {rc}")
        result = json.load(open(result_file))
        verdicts = oracle_verdicts(result, cache)
        e2e, info = summarize(result, verdicts, statistics.median(gen))

        print(f"workload {a.workload}  seed {a.seed}  passes "
              f"{len(result['passes'])}  operations {info['attempted']} "
              f"(1 client thread, closed loop, local[4])")
        for name, (v, unit) in e2e.items():
            print(f"  {name:<18} {v:>12.4f} {unit}")
        print(f"  {'query_p50_s':<18} {info['query_p50_s']:>12.4f} s "
              f"(n_ops {info['n_ops']})")
        print(f"  {'query_tail_s':<18} {info['query_tail_s']:>12.4f} s "
              f"(p{info['tail_pct']:.1f} of n_ops {info['n_ops']})")
        print(f"  {'failed_frac':<18} {info['failed_frac']:>12.4f} "
              f"({info['failed']}/{info['attempted']})")
        print("  pass walls: " + " ".join(f"{w:.3f}" for w in info["pass_walls"]))
        print(f"  set-up: inputs {statistics.median(gen):.3f}s (median of "
              f"{INPUT_REPEATS}), engine start "
              f"{result['session_start_s']:.3f}s, warm-up "
              f"{result['warmup_s']:.3f}s")
        per_query = {}
        for o in result["ops"]:
            per_query.setdefault(o["query"], []).append(o)
        print("  per query: median latency s (build s)")
        for q, os_ in per_query.items():
            print(f"    {q:<24} {statistics.median(o['lat_s'] for o in os_):8.3f}"
                  f" ({statistics.median(o['build_s'] for o in os_):.3f})")
        for q, why in sorted(info["failing"].items()):
            print(f"  known failure: {q}: {why}")
        if a.trace:
            trace = json.load(open(os.path.join(run_dir, "trace.json")))
            trace["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            dest = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
            with open(dest, "w") as fh:
                json.dump(trace, fh)
            print("per-layer metrics (per traced pass):")
            for name, m in trace["metrics"].items():
                print(f"  {name:<26} {m['value']:>12.4f} {m['unit']}")
            print("self time per layer (per traced pass):")
            print(self_time_table(trace))
            print(f"trace written to {os.path.relpath(dest, ROOT)}")
            metrics = trace["metrics"]
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"correct": info["failed"] == 0,
                          "attempted": info["attempted"],
                          "failed": info["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
