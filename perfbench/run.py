"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on the first run in a
checkout, generates the workload's inputs from the seed, runs the harness
JVM (local[nproc], heap sized from MemTotal), checks the outputs against the
generator's ground truth, and prints one JSON object as its last line:
end-to-end metrics untraced, per-layer metrics traced.
"""

import argparse
import glob
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Input sizes. Every seed gives the same make-up; only values differ.
BULK = dict(n_feeds=8, n_per_meter=1000)
BULK_WARM = dict(n_feeds=2, n_per_meter=50)
DELIVERY = dict(size=60, n_bad=3)
CYCLES = 4
ANN = dict(n_base=4096, dim=64, cells=64, books=256, fold=512, forget=128,
           queries=64, rounds=CYCLES)
ANN_WARM = dict(n_base=1024, dim=64, cells=16, books=64, fold=0, forget=0,
                queries=8, rounds=0)
ANN_SERVE = dict(k=10, nprobe=8, rerank=8, numsub=8, cycle_rounds=1,
                 max_generations=2)

JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def machine():
    """local[N] from the CPUs this process may use (nproc); the heap from
    MemTotal with the Tier-1 SPARK_DRIVER_MEM rule: half, clamped to 2-8 GiB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return cpus, max(2, min(8, kb // 2097152))


# --------------------------------------------------------------------- build

BUILD_INPUTS = ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src")


def sources_stamp(root):
    """Newest mtime and file count over everything the build reads."""
    newest, count = 0.0, 0
    for top in BUILD_INPUTS:
        path = os.path.join(root, top)
        paths = [path] if os.path.isfile(path) else []
        for dirpath, subdirs, names in os.walk(path):
            subdirs[:] = [d for d in subdirs if d not in ("target", "project")]
            paths += [os.path.join(dirpath, n) for n in names]
        for p in paths:
            newest, count = max(newest, os.stat(p).st_mtime), count + 1
    return f"{newest:.6f}:{count}"


def classpath(root):
    build = os.path.join(HERE, ".build")
    cp_file = os.path.join(build, "classpath.txt")
    stamp = sources_stamp(root)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(build, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         HERE, env, out, BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines)
               if ".jar" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def run_bounded(cmd, cwd, env, out, timeout):
    """Runs cmd in its own process group; on timeout kills the group. Always
    waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -------------------------------------------------------------------- inputs

def make_gb_ingest(rng, work, plan):
    feeds = gen.bulk_feeds(rng, **BULK)
    m = gen.write_corpus(os.path.join(work, "bulk"), feeds)
    gen.write_corpus(os.path.join(work, "bulk_warm"),
                     gen.bulk_feeds(rng, **BULK_WARM))
    deliveries = []
    for i in range(CYCLES):
        d_feeds = gen.delivery_feeds(rng, i, **DELIVERY)
        d = gen.write_corpus(os.path.join(work, "pending", f"d{i:03d}"),
                             d_feeds)
        deliveries.append((d_feeds, d))
        plan[f"delivery.{i}.readings"] = d["readings"]
    plan.update({"bulk.dir": os.path.join(work, "bulk"),
                 "warm.dir": os.path.join(work, "bulk_warm"),
                 "bulk.readings": m["readings"],
                 "deliveries.dir": os.path.join(work, "pending"),
                 "deliveries.count": CYCLES,
                 "landing.dir": os.path.join(work, "landing")})
    return {"feeds": feeds, "has_cost": m["has_cost"],
            "deliveries": deliveries}


def write_ann_inputs(seed, directory, spec):
    os.makedirs(directory, exist_ok=True)
    base, rounds, q = gen.embeddings(seed, spec["n_base"], spec["dim"],
                                     spec["cells"], spec["rounds"],
                                     spec["fold"], spec["forget"],
                                     spec["queries"])
    gen.write_vectors_parquet(os.path.join(directory, "base.parquet"),
                              np.arange(spec["n_base"], dtype=np.int64), base)
    qids = np.arange(10**9, 10**9 + spec["queries"], dtype=np.int64)
    gen.write_vectors_parquet(os.path.join(directory, "queries.parquet"),
                              qids, q)
    for r, (ids, vecs, gone) in enumerate(rounds):
        gen.write_vectors_parquet(
            os.path.join(directory, f"fold_{r:03d}.parquet"), ids, vecs)
        gen.write_ids_parquet(
            os.path.join(directory, f"forget_{r:03d}.parquet"), gone)
    with open(os.path.join(directory, "inputs.properties"), "w") as f:
        f.write(f"base={spec['n_base']}\ncells={spec['cells']}\n"
                f"books={spec['books']}\nrounds={spec['rounds']}\n")
    return base, rounds, q, qids


def make_ann(rng, work, plan):
    seed = rng.randrange(2**31)
    base, rounds, q, qids = write_ann_inputs(seed, os.path.join(work, "ann"),
                                             ANN)
    write_ann_inputs(seed + 1, os.path.join(work, "ann_warm"), ANN_WARM)
    plan.update({"ann.dir": os.path.join(work, "ann"),
                 "warm.dir": os.path.join(work, "ann_warm"),
                 "ann.dim": ANN["dim"], "ann.queries": ANN["queries"],
                 "ann.base": ANN["n_base"],
                 "ann.fold": ANN["fold"], "ann.forget": ANN["forget"],
                 **{f"ann.{k}": v for k, v in ANN_SERVE.items()}})
    return {"base": base, "rounds": rounds, "queries": q, "qids": qids}


# -------------------------------------------------------------------- checks

def check_gb_ingest(out, truth, result):
    # traced, the conversion also writes influx; untraced, the delivery does
    formats = ["csv", "parquet"] + (["influxdb"] if "per_layer" in result else [])
    problems, share = check.check_bulk(out, truth["feeds"], truth["has_cost"],
                                       formats)
    shares = [share]
    for i in range(int(result["extra"]["cycles"])):
        feeds, m = truth["deliveries"][i]
        p, s = check.check_delivery(os.path.join(out, f"delivery_{i:03d}"),
                                    feeds, m["has_cost"])
        problems += p
        shares.append(s)
    return problems, min(shares)


def check_ann(out, truth, result):
    rounds_done = int(result["extra"]["rounds"])
    base, rounds = truth["base"], truth["rounds"]
    vectors = {i: base[i] for i in range(len(base))}
    for ids, vecs, _ in rounds[:rounds_done]:
        vectors.update(zip(ids.tolist(), vecs))
    # live set before each serve: serve 2r follows fold r, 2r+1 forget r
    live = list(range(len(base)))
    live_at = {}
    for r, (ids, _, gone) in enumerate(rounds[:rounds_done]):
        live = live + ids.tolist()
        live_at[2 * r] = np.array(sorted(live), dtype=np.int64)
        gone_set = set(gone.tolist())
        live = [v for v in live if v not in gone_set]
        live_at[2 * r + 1] = np.array(sorted(live), dtype=np.int64)
    serves = {}
    with open(os.path.join(out, "ann_serves.tsv")) as f:
        for line in f:
            if line.strip():
                s, qid, rank, nid, cos = line.split("\t")
                serves.setdefault(int(s), []).append(
                    (int(qid), int(rank), int(nid), float(cos)))
    problems = []
    if sorted(serves) != list(range(2 * rounds_done)):
        problems.append(f"serves {sorted(serves)[:4]}... for {rounds_done} rounds")

    def ids(name):
        with open(os.path.join(out, name)) as f:
            return [int(l) for l in f if l.strip()]
    p, recall = check.check_ann(serves, live_at.__getitem__, vectors,
                                truth["queries"], truth["qids"],
                                ANN_SERVE["k"], ids("ann_index_ids.txt"),
                                ids("ann_vector_ids.txt"), sorted(live))
    return problems + p, recall


def named_gb(res, truth, plan, quality):
    """The workload's own figures under the names the README uses."""
    med = {k: statistics.median(v) for k, v in res["ops"].items()}
    n = int(res["extra"]["cycles"])
    parquet = sum(os.path.getsize(f) for f in glob.glob(
        os.path.join(plan["out.dir"], "parquet", "*.parquet")))
    readings = plan["bulk.readings"]
    return {"csv_export_readings_per_s": readings / med["csv"],
            "parquet_export_readings_per_s": readings / med["parquet"],
            "parquet_bytes_per_reading": parquet / readings,
            "delivery_p50_s": med["delivery"],
            "delivery_readings_per_s":
                sum(truth["deliveries"][i][1]["readings"] for i in range(n))
                / sum(res["ops"]["delivery"])}


def named_ann(res, truth, plan, quality):
    med = {k: statistics.median(v) for k, v in res["ops"].items()}
    return {"ann_build_s": med["build"], "ann_fold_p50_s": med["fold"],
            "ann_forget_p50_s": med["forget"], "ann_serve_p50_s": med["serve"],
            "ann_compact_s": med["compact"], "ann_recall_at_10": quality}


MAKE = {"gb_ingest": make_gb_ingest, "ann_ivfpq_lifecycle": make_ann}
NAMED = {"gb_ingest": named_gb, "ann_ivfpq_lifecycle": named_ann}
CHECK = {"gb_ingest": check_gb_ingest, "ann_ivfpq_lifecycle": check_ann}


# ---------------------------------------------------------------------- main

def declared_metrics(kind):
    """(name, unit) of the metrics BENCHMARK.json declares."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MAKE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "project/build.properties"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no engine source here ({need} missing); run from the root "
                 "of a checkout")
    cp = classpath(root)

    cpus, heap_g = machine()
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("out", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    plan = {"workload": args.workload, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus,
            "out.dir": os.path.join(work, "out")}
    truth = MAKE[args.workload](random.Random(args.seed), work, plan)
    with open(os.path.join(work, "plan.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in plan.items())

    cmd = (["java", f"-Xmx{heap_g}g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", work])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1")
    t_jvm = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_bounded(cmd, root, env, log, JVM_TIMEOUT_S)
    jvm_s = time.time() - t_jvm
    result_file = os.path.join(work, "jvm_result.json")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"harness JVM exited {rc}; see {work}/jvm.log")
    with open(result_file) as f:
        res = json.load(f)

    t0 = time.time()
    problems, quality = CHECK[args.workload](plan["out.dir"], truth, res)
    check_s = time.time() - t0
    for p in problems[:10]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    detail = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "heap_gb": heap_g, "check_s": round(check_s, 3),
              "jvm_s": round(jvm_s, 3),
              "before_jvm_s": round(t_jvm - t_start, 3),
              "setup_samples_s": res["setup_s"],
              "samples": len(res["op_samples"]),
              "cpu_ms_per_item": 1e3 * res["cpu_s"] / res["items"],
              "peak_rss_mb": res["peak_rss_mb"],
              "op_medians_s": {k: statistics.median(v)
                               for k, v in res["ops"].items()},
              "extra": res["extra"]}
    if not args.trace:
        detail["named"] = NAMED[args.workload](res, truth, plan, quality)
    if len(res["op_samples"]) >= 40:
        # the highest percentile that leaves at least ten samples above it
        xs = sorted(res["op_samples"])
        detail["op_tail"] = {"pct": 100 * (len(xs) - 10) / len(xs),
                             "s": xs[len(xs) - 11]}
    print(json.dumps(detail))

    if args.trace:
        layers = res.get("per_layer", {})
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u}
                   for n, u in declared_metrics("per_layer")}
    else:
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "op_p50_s": statistics.median(res["op_samples"]),
            "items_per_s": res["items"] / res["timed_s"],
            "result_quality": quality,
        }
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u in declared_metrics("end_to_end")}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
