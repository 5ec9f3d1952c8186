#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload region|scan_write \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the benchmark
driver from source with sbt (perfbench/build.sbt) and generates the corpora
under perfbench/work/; later runs reuse both while their stamps and markers
match. Every operation's output is checked against answers computed apart
from graft (see corpus.py); an operation that raises or answers wrongly
counts as failed. A traced run (--trace 1) also checks the rows of the loop
queries it times against loops_expected.json. The last stdout line is the
result JSON; the line before it carries the per-leg breakdown ("detail").
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import corpus  # noqa: E402

WORK = os.path.join(HERE, "work")
WORKLOADS = ("region", "scan_write")
PART_OF = {"region": "region", "scan_write": "scan"}
# untimed rounds before the timed phase; README.md says why region needs more
WARMUP_ROUNDS = {"region": 6, "scan_write": 2}
DEADLINE_S = 170  # the whole run, build and corpus excepted
CPUS = min(os.cpu_count() or 1, 4)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Classpath of graft plus the benchmark driver, rebuilt when any source changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft sources not found ({need}); run from the repository root")
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and the benchmark driver with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        errors = [l for l in p.stdout.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40] or p.stdout.splitlines()[-40:]) + "\n")
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------------------
# JVM
# ---------------------------------------------------------------------------

def java_cmd(cp, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-cp", cp, main] + list(args)
    return cmd


def run_java(cp, main, args, timeout):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    errlog = open(os.path.join(WORK, "jvm.log"), "a")
    p = subprocess.Popen(java_cmd(cp, main, args), cwd=WORK, env=env,
                         stdout=errlog, stderr=errlog, start_new_session=True)
    try:
        rc = p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{main} did not finish within {timeout:.0f} s")
    finally:
        errlog.close()
    if rc != 0:
        fail(f"{main} exited with {rc}; see {os.path.join(WORK, 'jvm.log')}")


def ensure_corpora(cp, workload):
    """Every part exists (built if missing); the workload's own part is
    re-hashed against its marker on every run."""
    markers = {}
    for part in corpus.PARTS:
        verify = part == PART_OF[workload]
        m = corpus.load_marker(WORK, part, verify)
        if m is None:
            log(f"generating corpus '{part}'")
            t0 = time.time()
            m = corpus.build(WORK, part, lambda prt, d: run_java(
                cp, "perfbench.Gen", [prt, d, str(CPUS)], 800))
            log(f"corpus '{part}' ready in {time.time() - t0:.0f} s ({m['bytes'] / 1e6:.0f} MB)")
        markers[part] = m
    return markers


# ---------------------------------------------------------------------------
# plans: the seeded operation stream
# ---------------------------------------------------------------------------

REGION_KINDS = [("vcf_sql_range", "local"), ("vcf_sql_fn", "local"), ("vcf_option", "local"),
                ("bam_sql_fn", "local"), ("bam_sql_range", "local"), ("fasta_option", "local"),
                ("vcf_sql_range", "s3"), ("vcf_sql_fn", "s3"), ("vcf_option", "s3")]
SCANS = [name for name in corpus.SCAN_FILES]
CHROM_LEN = corpus.VCF_RECORDS * corpus.VCF_STEP


def make_plan(workload, seed):
    """Rounds of operations; every round holds the same operation kinds, so
    a run always attempts whole rounds of one fixed mix."""
    rnd = random.Random(f"{workload}:{seed}")
    rounds = []
    if workload == "region":
        for r in range(3000):
            ops = []
            for kind, leg in REGION_KINDS:
                c = rnd.randrange(corpus.CHROMS)
                width = rnd.randint(500, 5000) if kind == "fasta_option" else rnd.randint(1000, 20000)
                lo = rnd.randint(1, CHROM_LEN - width)
                pop = rnd.randrange(corpus.SAMPLES // corpus.SAMPLES_PER_POP)
                sample = rnd.choice(list(corpus.samples_of_pop(pop)))
                ops.append((kind, leg, [corpus.chrom(c), lo, lo + width, f"p{pop}", f"s{sample:02d}"]))
            rnd.shuffle(ops)
            rounds.append(ops)
    elif workload == "scan_write":
        for r in range(300):
            scans = SCANS[:]
            rnd.shuffle(scans)
            ops = [(s, "scan", []) for s in scans]
            k = rnd.randrange(8)  # the written class: records i with i % 8 == k
            lo = rnd.randint(1, 3_000_000)
            ops.append(("write_fastq", "write", [k]))
            # read i sits on chr(i % 8), so class k is all of chr<k>
            ops.append(("write_bam", "write", [k, f"chr{k}", lo, lo + 200_000]))
            rounds.append(ops)
    return rounds


def write_plan(rounds, path):
    with open(path, "w") as f:
        for i, ops in enumerate(rounds):
            for kind, leg, params in ops:
                f.write("\t".join([str(i), kind, leg] + [str(p) for p in params]) + "\n")


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def norm(v):
    if v is None:
        return "null"
    try:
        x = float(v)
    except ValueError:
        return v
    return f"{x:.9g}"


def rows_key(rows):
    return sorted(tuple(norm(v) for v in r) for r in rows)


def check_region(kind, params, result):
    c, lo, hi, pop, sample = params
    ci = int(c[3:]) - 1
    lo, hi = int(lo), int(hi)
    if kind == "fasta_option":
        exp = corpus.expect_fasta(ci, lo, hi)
    elif kind.startswith("bam"):
        exp = corpus.expect_bam(ci, lo, hi)
    elif kind == "vcf_sql_range":
        exp = corpus.expect_vcf(ci, lo, hi, range(corpus.SAMPLES))
    elif kind == "vcf_sql_fn":
        exp = corpus.expect_vcf(ci, lo, hi, corpus.samples_of_pop(int(pop[1:])))
    else:
        exp = corpus.expect_vcf(ci, lo, hi, [int(sample[1:])])
    return [[int(x) for x in row] for row in result] == [list(exp)]


SCAN_FIELDS = {
    "fastq_bgzf": ["records", "bases", "gc", "gc", "qual_n", "qual_first"],
    "bam": ["records", "bases", "gc", "reverse", "duplicate", "start_sum"],
    "cram": ["records", "bases", "gc", "reverse", "duplicate", "start_sum"],
    "vcf_bgzf": ["records", "pos_sum", "qual_sum", "info_bytes"],
    "fasta_gz": ["records", "bases", "gc"],
    "mzml": ["records", "peaks", "intensity_sum"],
}


def check_scan(kind, result, expected):
    exp = expected[kind]
    return len(result) == 1 and [float(x) for x in result[0]] == \
        [float(exp[f]) for f in SCAN_FIELDS[kind]]


def check_write(kind, params, result, expected, bam_checks):
    """Written records re-read apart from graft. Returns (ok, records)."""
    out_dir = result[0][0]
    k = int(params[0])
    if kind == "write_fastq":
        files = corpus.data_files(out_dir, ".fastq.gz")
        got = corpus.fastq_totals(files)
        exp = expected["fastq_bgzf"]["classes"][k]
        ok = bool(files) and all(got[f] == exp[f] for f in ("records", "bases", "gc"))
        return ok, got["records"]
    files = corpus.data_files(out_dir, ".bam")
    n = sum(corpus.bam_count(p) for p in files)
    chk = bam_checks.get(out_dir)
    ok = (bool(files) and n == expected["bam"]["classes"][k] and chk is not None
          and chk["bai_files"] == len(files) and chk["index_rows"] == chk["scan_rows"] > 0)
    return ok, n


def load_loops_expected():
    with open(os.path.join(HERE, "loops_expected.json")) as f:
        exp = json.load(f)
    if exp.get("documents_sha256") != corpus.documents_digest():
        fail("loops_expected.json was computed for other documents; "
             "regenerate it with: python3 perfbench/oracle.py")
    return {q: rows_key(rows) for q, rows in exp["results"].items()}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))]


def median(xs):
    return statistics.median(xs) if xs else None


def kind_medians_ms(ops):
    """Median latency of each operation kind."""
    by_kind = {}
    for o in ops:
        by_kind.setdefault((o["kind"], o["leg"]), []).append(o["ms"])
    return [median(v) for v in by_kind.values()]


def end_to_end(ops, setup):
    """round_s: one round rebuilt from each kind's median latency, which a
    single slow operation moves less than the median of a few round times.
    kind_geomean_ms: the geometric mean of those medians, so that a k-fold
    slowdown of any one of n kinds moves it by k ** (1 / n)."""
    kinds = kind_medians_ms(ops)
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "round_s": {"value": sum(kinds) / 1e3, "unit": "s"},
        "kind_geomean_ms": {"value": math.exp(statistics.fmean(map(math.log, kinds))),
                            "unit": "ms"},
    }


def detail(workload, ops, rounds, expected, written):
    d = {"ops": len(ops), "rounds": len(rounds)}
    if workload == "region":
        for leg, name in (("local", "region"), ("s3", "region_s3")):
            ms = [o["ms"] for o in ops if o["leg"] == leg]
            d[f"{name}_p50_ms"] = pct(ms, 50)
            if len(ms) >= 100:  # a p90 with fewer than ten samples beyond it is no tail
                d[f"{name}_p90_ms"] = pct(ms, 90)
            d[f"{name}_samples"] = len(ms)
    elif workload == "scan_write":
        for s in SCANS:
            rates = [expected[s]["input_bytes"] / 1e6 / (o["ms"] / 1e3)
                     for o in ops if o["kind"] == s]
            d[f"scan_{s}_mb_s"] = median(rates)
        wops = [o for o in ops if o["leg"] == "write"]
        wsec = sum(o["ms"] for o in wops) / 1e3
        recs = sum(written.get(id(o), 0) for o in wops)
        out_bytes = sum(int(o["result"][0][1]) for o in wops if "result" in o)
        d["write_records_per_s"] = recs / wsec if wsec else None
        d["write_bytes_per_record"] = out_bytes / recs if recs else None
    return d


def declared(kind):
    """{name: unit} of the metrics BENCHMARK.json declares under `kind`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    markers = ensure_corpora(cp, a.workload)
    expected = markers["scan"]["expected"]
    loops_expected = load_loops_expected() if a.trace else None

    t_start = time.time()
    rounds_plan = make_plan(a.workload, a.seed)
    plan_path = os.path.join(WORK, "plan.tsv")
    write_plan(rounds_plan, plan_path)
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    out_path = os.path.join(WORK, "run.jsonl")
    run_java(cp, "perfbench.Main", [
        "--workload", a.workload, "--plan", plan_path, "--corpus", os.path.join(WORK, "corpus"),
        "--work", WORK, "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out_path,
        "--cpus", str(CPUS), "--warmup-rounds", str(WARMUP_ROUNDS[a.workload])], DEADLINE_S - (time.time() - t_start))

    recs = [json.loads(l) for l in open(out_path) if l.strip()]
    setup = next(r["s"] for r in recs if r["type"] == "setup")
    bam_checks = {r["dir"]: r for r in recs if r["type"] == "bam_index_check"}
    phase = "untraced" if a.trace else "timed"
    attempted = failed = wrong = 0
    written = {}
    for r in recs:
        if r["type"] != "op":
            continue
        attempted += 1
        if "error" in r:
            failed += 1
            log(f"op failed: {r['kind']} round {r['round']}: {r['error']}")
            continue
        params = next(p for k, leg, p in rounds_plan[r["round"]]
                      if k == r["kind"] and leg == r["leg"])
        if r["leg"] in ("local", "s3"):
            ok = check_region(r["kind"], [str(p) for p in params], r["result"])
        elif r["leg"] == "scan":
            ok = check_scan(r["kind"], r["result"], expected)
        else:
            ok, written[id(r)] = check_write(r["kind"], params, r["result"], expected, bam_checks)
        if not ok:
            failed += 1
            wrong += 1
            log(f"wrong answer: {r['kind']} round {r['round']} params {params}: "
                f"{json.dumps(r['result'])[:300]}")
    loop_results = [r for r in recs if r["type"] == "loop_result"]
    if a.trace and sorted(r["kind"] for r in loop_results) != sorted(loops_expected):
        fail("the traced run did not time every loop query")
    for r in loop_results:
        attempted += 1
        if rows_key(r["result"]) != loops_expected[r["kind"]]:
            failed += 1
            wrong += 1
            log(f"wrong answer: loop query {r['kind']}: {json.dumps(r['result'])[:300]}")
    ops = [r for r in recs if r["type"] == "op" and r["phase"] == phase]
    rounds = [r["s"] for r in recs if r["type"] == "round" and r["phase"] == phase]
    if not ops or not rounds:
        fail("the run completed no round")

    if a.trace:
        traced = [r["s"] for r in recs if r["type"] == "round" and r["phase"] == "traced"]
        layers = {r["name"]: r["value"] for r in recs if r["type"] == "layer"}
        layers["trace.overhead_ratio"] = median(traced) / median(rounds) if traced else None
        units = declared("per_layer")
        missing = [n for n in units if layers.get(n) is None]
        if missing:
            fail(f"traced run did not produce: {missing}")
        metrics = {n: {"value": layers[n], "unit": units[n]} for n in units}
    else:
        metrics = end_to_end(ops, setup)
        missing = [n for n in declared("end_to_end") if metrics.get(n, {}).get("value") is None]
        if missing:
            fail(f"run did not produce: {missing}")
    d = detail(a.workload, ops, rounds, expected, written)
    if a.trace:
        shares = {}
        for r in recs:
            if r["type"] == "op_trace":
                shares.setdefault(r["kind"], []).append(r["in_job_ms"] / r["wall_ms"])
        d["in_job_share_by_kind"] = {k: median(v) for k, v in sorted(shares.items())}
    print(json.dumps({"detail": d}))
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
