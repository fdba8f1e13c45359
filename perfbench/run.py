#!/usr/bin/env python3
"""graft benchmark: times the reference's user path (`Run track` →
`Run eval`) and the query catalog through the program's public entry
points, checks the outputs, and prints one JSON line of metrics.

    python3 perfbench/run.py --workload mot_dense --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run in a checkout builds the
program and the harness from source with sbt; later runs reuse that
build. `--check-catalog` instead checks every catalog query against its
DuckDB oracle (graft.Verify + tools/parity.py). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import gen  # noqa: E402
import mot_oracle  # noqa: E402

BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
SF_DATA = os.path.join(HERE, "data", "sf0.01")
EMB_DIM = 256  # the reference's feature_dim

# mot_dense: (sequences, frames, objects per frame) timed, and the
# small untimed sequence the set-up warms the two commands with
DENSE = (1, 100, 200)
WARM = (30, 10)

# A fixed slice of SparkEntry.queries: one plain relational query and one
# query per LLM-data module; the dedup one reads the band and gram
# artifacts dedup-maintain built. The seed sets only their order.
CATALOG = [
    "q01_pricing_summary",      # Rel
    "d05_minhash_lsh_pairs",    # TextQ dedup: band + gram artifacts
    "s08_ivf_pq",               # TextQ ann: IVF-PQ train, encode and probe
    "t02_quality",              # TextQ text
    "st1_stream_window",        # ExtQ stream
]

CHECKED = 2  # catalog queries dumped and checked against their oracle per run

WORKLOADS = ["mot_dense", "catalog"]
END_TO_END = [("setup_s", "s"), ("cpu_s", "s"), ("heap_retained_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


PROGRAM = ("build.sbt", "project/build.properties", "src/main")
HARNESS = ("perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src")


def sources_digest(tops):
    md = hashlib.md5()
    for top in tops:
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            md.update(f.encode())
            with open(f, "rb") as fh:
                md.update(fh.read())
    return md.hexdigest()


def driver_mem():
    """Tier-1's SPARK_DRIVER_MEM rule: half of RAM, clamped to 2..8 GiB."""
    kb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 1024
    return f"{min(8, max(2, kb // 2097152))}g"


def steal_jiffies():
    """Host CPU time taken from this machine's CPUs (the `steal` field)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()[1:]
    return int(f[7]), sum(int(x) for x in f)


def java_cmd(launch, work, main, args):
    cp, opts = launch["classpath"], launch["options"]
    return (["java"] + opts +
            [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
             "-cp", cp, main] + args)


def cached_json(path, digest):
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached
    return None


def build():
    """Compile program + harness with sbt once per source state."""
    stamp = os.path.join(BUILD, "build.json")
    digest = sources_digest(PROGRAM + HARNESS)
    return cached_json(stamp, digest) or sbt_build(stamp, digest)


def sbt_build(stamp, digest):
    os.makedirs(BUILD, exist_ok=True)
    launch_file = os.path.join(BUILD, "launch.txt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=driver_mem())
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.launch={launch_file}", "writeLaunch"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("sbt build failed")
    with open(launch_file) as fh:
        lines = fh.read().split("\n")
    launch = {"classpath": lines[0], "options": [l for l in lines[1:] if l], "digest": digest}
    with open(stamp, "w") as fh:
        json.dump(launch, fh)
    return launch


def check_catalog(launch):
    """Every catalog query against its oracle: graft.Verify + tools/parity.py."""
    work = os.path.join(BUILD, "verify")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        sf = os.path.join(work, "sf0.01")
        shutil.copytree(SF_DATA, sf)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
        r = subprocess.run(java_cmd(launch, work, "graft.Verify", [sf, f"{work}/out"]),
                           cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        crashed = [l for l in r.stdout.splitlines() if l.startswith("[verify]")]
        for l in crashed:
            log(l)
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "parity.py"), sf,
                            f"{work}/out"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        print(p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "parity: no output")
        return 0 if r.returncode == 0 and p.returncode == 0 and not crashed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(launch, work, args, timeout):
    raw = os.path.join(work, "raw.json")
    cmd = java_cmd(launch, work, "perfbench.Main", args + ["--out", raw, "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True)
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    failures = [l for l in err.splitlines() if l.startswith("[perfbench] op ")]
    for l in failures:
        log(l)
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"benchmark JVM exited {proc.returncode}")
    with open(raw) as fh:
        return json.load(fh)


def file_md5(path):
    md = hashlib.md5()
    for f in sorted(os.listdir(path)) if os.path.isdir(path) else [path]:
        if f.startswith("part-"):
            with open(os.path.join(path, f), "rb") as fh:
                md.update(fh.read())
    return md.hexdigest()


def remember(key, value):
    """Compare `value` with what an earlier run stored under `key`
    (same workload and seed); store it if none did. True when equal."""
    d = os.path.join(BUILD, "digests")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, key + ".json")
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh) == value
    with open(p, "w") as fh:
        json.dump(value, fh)
    return True


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--check-catalog", action="store_true")
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft", "tools/parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"run from the repository root: {need} is missing")
    if a.check_catalog:
        raise SystemExit(check_catalog(build()))
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    launch = build()
    deadline = time.monotonic() + 175  # a run ends within 180 s of its build
    cpus = len(os.sched_getaffinity(0))  # what `nproc` prints

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    errors = []
    try:
        args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus)]
        if a.workload == "mot_dense":
            data = os.path.join(work, "inputs")
            seqs = gen.generate(data, a.seed, *DENSE, EMB_DIM)
            gen.one(os.path.join(data, "warm"), a.seed + 1_000_003, *WARM, EMB_DIM)
            if not remember(f"{a.workload}-{a.seed}-inputs", gen.digest(data)):
                errors.append("generated inputs differ from an earlier run with this seed")
            args += ["--data", data]
        else:
            data = os.path.join(work, "sf0.01")
            shutil.copytree(SF_DATA, data)
            order = list(CATALOG)
            random.Random(a.seed).shuffle(order)
            # the tables are the same for every seed, so each run checks
            # the CHECKED queries its seed puts first; seeds rotate them
            args += ["--data", data, "--queries", ",".join(order),
                     "--check", ",".join(order[:CHECKED]), "--dump", f"{work}/dump"]
        steal0 = steal_jiffies()
        raw = run_jvm(launch, work, args, timeout=deadline - time.monotonic() - 10)
        steal1 = steal_jiffies()

        ops = [op for p in raw["passes"] for op in p["ops"]]
        attempted, failed = len(ops), sum(1 for op in ops if not op["ok"])
        if a.workload == "mot_dense":
            for name, d in seqs:
                text = raw["tables"].get(name)
                if text is None:
                    errors.append(f"{name}: no metric tables")
                    continue
                errors += [f"{name}: {e}" for e in mot_oracle.check(d, text, gen.IOU_THRESHOLD)]
            digests = {name: file_md5(os.path.join(d, "track.txt")) for name, d in seqs}
            if not remember(f"{a.workload}-{a.seed}-track", digests):
                errors.append("track.txt differs from an earlier run with this seed")
        else:
            p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "parity.py"),
                                data, f"{work}/dump"], stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, text=True,
                               timeout=max(5, deadline - time.monotonic()))
            lines = p.stdout.strip().splitlines() or ["parity: no output"]
            if p.returncode != 0:
                errors += [l for l in lines if not l.startswith("[OK]")]
        if a.trace == 1:
            layers = {n: v for n, v, _ in raw["layers"]}
            self_sum = sum(layers[n] for n in raw["self_layers"]) + layers["unattributed_s"]
            if abs(self_sum - layers["trace.wall_s"]) > 1e-6 * max(1.0, layers["trace.wall_s"]):
                errors.append(f"span self times {self_sum} != traced wall {layers['trace.wall_s']}")
        for e in errors:
            log("check failed: " + e)

        # wall time per pass is reported here, beside the host's steal
        # share, not as a metric: it follows the steal too closely to gate on
        walls = [sum(op["s"] for op in p["ops"]) for p in raw["passes"] if not p["traced"]]
        print(json.dumps({"env": {"cpus": cpus, "heap_max_mb": raw["heap_max_mb"],
                                  "spark": raw["spark_version"], "seed": a.seed,
                                  "workload": a.workload, "seconds": a.seconds,
                                  "cpu_steal_share": round((steal1[0] - steal0[0]) /
                                                           max(1, steal1[1] - steal0[1]), 4),
                                  "pass_wall_s": walls}}))
        if a.trace == 0:
            values = {
                "setup_s": raw["setup_s"],
                "cpu_s": statistics.median(sum(op["cpu_s"] for op in p["ops"])
                                           for p in raw["passes"]),
                "heap_retained_mb": raw["heap_retained_mb"],
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        else:
            metrics = {n: {"value": v, "unit": u} for n, v, u in raw["layers"]}
        print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
