#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload ref_distances --seed 1 --seconds 10 --trace 0

It builds the harness (perfbench/harness, which compiles the program's
sources with it) once per source state, makes the workload's inputs from
the seed (cached per seed under .perfbench/cache), runs one JVM at
local[N] with N = nproc, checks the outputs, and prints every metric by
name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

WORKLOADS = ("ref_distances", "dedup_pipeline")
DEDUP_DOCS = {"full": 1000, "tiny": 200}
HEAP = "3g"
# the JVM flags Spark needs on JDK 17 outside spark-submit, as in the
# program's own build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "throughput": "items/s", "cpu_s": "s",
    "parallel_eff": "ratio", "peak_rss_mb": "MB",
}
FORMATS = ("binpos", "dtr", "xyz", "lammpstrj")
# query families measured in the traced run of dedup_pipeline
FAMILIES = ("rel", "streaming", "multimodal")
# repetitions of the family queries, each over its own copy of the tables
TABLE_COPIES = 4
PER_LAYER = {
    "sources.read_s": "s", "sources.read_rows": "count",
    "sources.read_bytes": "bytes", "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    **{f"sources.read_s.{f}": "s" for f in FORMATS},
    **{f"sources.write_s.{f}": "s" for f in FORMATS},
    "traj.load_s": "s", "traj.gather_s": "s",
    "functions.kernel_s": "s", "functions.pairs": "count",
    "functions.bytes_computed": "bytes",
    "text.exact_tier_s": "s", "text.minhash_tier_s": "s",
    "text.ngram_df_tier_s": "s", "text.span_dedup_s": "s",
    "text.candidate_pairs": "count", "text.verified_pairs": "count",
    "text.verify_yield": "ratio",
    "sim.semantic_tier_s": "s", "sim.semantic_pairs": "count",
    "graph.cc_s": "s", "graph.cc_jobs": "count", "graph.edges_in": "count",
    "graph.clusters": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_s": "s", "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "spark.driver_idle_s": "s",
    **{f"{fam}.{what}": unit for fam in FAMILIES
       for what, unit in (("query_s", "s"), ("build_s", "s"), ("jobs", "count"))},
    **{f"self_s.{layer}": "s" for layer in
       ("traj", "pipeline", "spark", "iteration")},
    "trace.overhead_s": "s", "trace.coverage": "ratio",
}


def say(msg):
    print(f"perfbench: {msg}", flush=True)


def fail(msg, code=2):
    print(f"perfbench: error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def cpu_times():
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def source_digest(root):
    """Hash of every file the harness build reads."""
    h = hashlib.sha256()
    for top in ("src/main/scala", "src/main/resources", "perfbench/harness"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, top))):
            # sbt's own outputs are not inputs of the build
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp")
                             and not (x == "project" and d.endswith("project")))
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p[len(root):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root, state):
    """Compiles the harness with the program's sources; returns the
    runtime classpath. Reuses the previous build when no source changed."""
    digest = source_digest(root)
    stamp = os.path.join(state, "build", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"]
    # the build resolves only from local caches: it never goes to the network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    classes = os.path.join(state, "build", "target")
    cp = [ln for ln in proc.stdout.splitlines() if classes in ln and ":" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("harness build failed")
    say(f"build_s {time.time() - t0:.1f}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def prune(cache_dir, keep=6):
    """Keeps the most recently used seed directories of one cache."""
    if not os.path.isdir(cache_dir):
        return
    seeds = sorted((os.path.getmtime(os.path.join(cache_dir, d)), d)
                   for d in os.listdir(cache_dir))
    for _, d in seeds[:-keep]:
        shutil.rmtree(os.path.join(cache_dir, d), ignore_errors=True)


def run_harness(cp, args, work):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + [str(a) for a in args]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, err = proc.communicate(timeout=165)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("harness timed out", 3)
    recs = []
    for ln in out.splitlines():
        if ln.startswith("@pb "):
            kind, body = ln[4:].split(" ", 1)
            recs.append((kind, json.loads(body)))
    if proc.returncode != 0:
        sys.stderr.write(err[-6000:])
        fail(f"harness exited with {proc.returncode}", 3)
    return recs


def seeded_tables(cache, seed, corpus):
    """The family queries' inputs: the star-schema and events tables in
    data/ with their rows shuffled by the seed, and the seed's corpus,
    in TABLE_COPIES identical copies."""
    import pyarrow.parquet as pq
    import numpy as np
    out = os.path.join(cache, "tables", f"seed{seed}_{os.path.basename(corpus)}")
    if os.path.isdir(out):
        return out
    rng = np.random.default_rng(seed)
    src = os.path.join(HERE, "data")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for k in range(TABLE_COPIES):
        os.makedirs(f"{tmp}/rep{k}")
    for name in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, name))
        t = t.take(rng.permutation(t.num_rows))
        for k in range(TABLE_COPIES):
            pq.write_table(t, f"{tmp}/rep{k}/{name}")
    for name in ("documents.parquet", "embeddings.parquet"):
        for k in range(TABLE_COPIES):
            shutil.copyfile(os.path.join(corpus, name), f"{tmp}/rep{k}/{name}")
    os.replace(tmp, out)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb the result before checking (self-test)")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the program's sources "
             "(build.sbt, src/main/scala/graft) are not here")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark installation")
    state = os.path.join(root, ".perfbench")
    os.makedirs(os.path.join(state, "build"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))  # what nproc reports

    cp = build(root, state)

    load0, cpu0 = loadavg(), cpu_times()
    work = os.path.join(state, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cache = os.path.join(state, "cache")
    args = [a.workload, a.seed, a.seconds, a.trace, cores, cache, work, a.size]
    data = None
    if a.workload == "dedup_pipeline":
        prune(os.path.join(cache, "docs"))
        n_docs = DEDUP_DOCS[a.size]
        data = os.path.join(cache, "docs", f"seed{a.seed}_n{n_docs}")
        if not os.path.exists(os.path.join(data, "embeddings.parquet")):
            import corpus
            t0 = time.time()
            corpus.generate(data + ".tmp", a.seed, n_docs)
            os.replace(data + ".tmp", data)
            say(f"corpus_gen_s {time.time() - t0:.3f} (outside setup_s)")
        os.utime(data)
        tables = ""
        if a.trace == 1:
            prune(os.path.join(cache, "tables"))
            t0 = time.time()
            tables = seeded_tables(cache, a.seed, data)
            os.utime(tables)
            say(f"tables_s {time.time() - t0:.3f} (outside setup_s)")
        args += [n_docs, data, tables]
    else:
        prune(os.path.join(cache, "xtc"))
    if a.corrupt:
        args.append("--corrupt")

    recs = run_harness(cp, args, work)
    load1, cpu1 = loadavg(), cpu_times()
    one = {k: v for k, v in recs}
    iters = [v for k, v in recs if k == "iter"]
    plain = [r for r in iters if not r["traced"]]
    traced = [r for r in iters if r["traced"]]
    done = one["done"]

    correct = one["check"]["ok"]
    detail = one["check"]["detail"]
    if a.workload == "dedup_pipeline":
        import oracle
        correct, detail = oracle.dedup_check(oracle.connect(data, work), work)
        if a.trace == 1:
            con = oracle.connect(os.path.join(tables, "rep0"), work)
            for q in sorted(os.listdir(os.path.join(work, "family"))):
                ok, d = oracle.same_rows(con, work, q, os.path.join(work, "family", q))
                correct &= ok
                if not ok:
                    detail += f"; FAIL {d}"
            detail += "; family queries " + ("match" if correct else "differ") + \
                " the oracle"
    say(f"gen_s {one['gen']['gen_s']:.3f} (seeded input generation, outside setup_s)")
    say(f"check {'pass' if correct else 'FAIL'}: {detail}")
    dsteal = cpu1[1] - cpu0[1]
    dtotal = max(1, cpu1[0] - cpu0[0])
    say(f"machine nproc={cores} heap=-Xms{HEAP} -Xmx{HEAP} steal={dsteal / dtotal:.4f} "
        f"loadavg_before=[{load0}] loadavg_after=[{load1}]")

    wall = [r["wall_s"] for r in plain]
    if not wall:
        fail("no iteration completed", 4)
    wall_s = median(wall)
    items = done["items"]
    cpu_s = median([r["counters"]["spark.cpu_s"] for r in plain])
    setup_s = one["setup"]["setup_s"]
    q = statistics.quantiles(wall, n=4) if len(wall) > 1 else [wall_s] * 3
    say(f"wall_s n={len(wall)} median={wall_s:.4f} q1={q[0]:.4f} q3={q[2]:.4f} "
        f"max={max(wall):.4f}; throughput in {done['item_unit']}/s "
        f"({items:g} {done['item_unit']} per iteration)")
    say("wall_s samples " + ",".join(f"{x:.3f}" for x in wall))
    say(f"setup_s {setup_s:.3f} (JVM start to the first timed iteration, "
        f"minus input generation)")
    say(f"error_rate {done['failed'] / max(1, done['attempted']):.4f} "
        f"({done['failed']} of {done['attempted']} operations failed)")

    if a.trace == 0:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "throughput": items / wall_s,
            "cpu_s": cpu_s,
            "parallel_eff": cpu_s / (wall_s * cores),
            "peak_rss_mb": done["peak_rss_mb"],
        }
        units = END_TO_END
    else:
        values = {k: 0.0 for k in PER_LAYER}
        for k in values:
            if k.startswith("spark."):
                values[k] = median([r["counters"].get(k, 0.0) for r in plain])
        tw = [r["wall_s"] for r in traced]
        spans = {}
        for r in traced:
            for k, v in r["counters"].items():
                if k.startswith(("span_s.", "self_s.")):
                    spans.setdefault(k, []).append(v)
        span = {k[len("span_s."):]: median(v) for k, v in spans.items()
                if k.startswith("span_s.")}
        for k, v in spans.items():
            if k.startswith("self_s.") and k in values:
                values[k] = median(v)
        values["traj.load_s"] = span.get("traj.load", 0.0)
        values.update({k: v for k, v in one["layers"]["values"].items()
                       if k in values and v is not None})
        values["trace.overhead_s"] = median(tw) - wall_s
        values["trace.coverage"] = median([
            sum(v for k, v in r["counters"].items() if k.startswith("span_s."))
            / r["wall_s"] for r in traced])
        units = PER_LAYER
        spans_out = os.path.join(state, "traces", f"{a.workload}_seed{a.seed}_spans.json")
        os.makedirs(os.path.dirname(spans_out), exist_ok=True)
        shutil.move(one["spans"]["path"], spans_out)
        say(f"traced wall_s median={median(tw):.4f} (n={len(tw)}); untraced "
            f"median={wall_s:.4f}; spans in {os.path.relpath(spans_out, root)}")
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        say(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(correct), "attempted": done["attempted"],
                      "failed": done["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
