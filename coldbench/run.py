#!/usr/bin/env python3
"""Cold production-order benchmark for graft.

Usage (from the repository root):
    python3 coldbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark's JVM side (coldbench/jvm, which compiles the program's
own sources) offline with sbt when its inputs changed, generates the workload's
corpus from the seed, starts one JVM directly on the resolved classpath with
local[<cpus>], checks every stage output, and prints one JSON object as the
last line of stdout: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1.

Every run works in a fresh directory under .bench_build/coldbench/runs (its
own java.io.tmpdir, SPARK_LOCAL_DIRS and corpus path) and removes it at the
end. The first run of a seed checks its stage outputs against the program's
DuckDB oracle SQL and caches their digests as the seed's reference; every
chain of every run must reproduce them.
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
from concurrent.futures import ThreadPoolExecutor

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
JVM_PROJECT = os.path.join(HERE, "jvm")
BUILD = os.path.join(ROOT, ".bench_build", "coldbench")
RUN_LIMIT_S = 170          # every run must end within 180 s
CHECK_RESERVE_S = 15       # the checks after the JVM take up to ~15 s

WORKLOADS = ["pipeline_abstracts", "pipeline_fulltext"]
PIPELINE_STAGES = ["ingest", "filter", "sentences", "abbrev", "concepts", "cooccur_units",
                   "cooccur_counts", "cooccur_metrics", "relations", "exports", "kg"]
CURATION_STAGES = ["lang_quality", "dedup_exact", "minhash", "clusters", "decontam", "packing"]
STAGE_MEASURES = [("wall_s", "s"), ("driver_s", "s"), ("cpu_s", "s"),
                  ("shuffle_mb", "MB"), ("rows_out", "count")]
PER_LAYER = [(f"{st}.{m}", u) for st in PIPELINE_STAGES + CURATION_STAGES
             for m, u in STAGE_MEASURES] + [
    ("minhash.candidate_pairs", "count"), ("minhash.true_dup_ratio", "ratio"),
    ("engine.cpu_s", "s"), ("engine.peak_rss_mb", "MB"), ("engine.spill_mb", "MB"),
    ("engine.gc_s", "s"),
    ("engine.tasks", "count"),
    ("engine.jobs", "count"), ("staging.write_mb", "MB"),
    ("staging.bytes_per_input_byte", "ratio"), ("staging.artifacts", "count"),
    ("trace.chain_wall_s", "s"), ("trace.uncovered_s", "s"), ("trace.overhead_s", "s"),
    ("trace.untraced_runs", "count"),
    ("stream.p50_ms", "ms"), ("stream.p90_ms", "ms"), ("stream.batches", "count"),
    ("stream.batch_ms_p50", "ms"), ("stream.floor_ms_p50", "ms"),
    ("stream.rows_per_batch", "count"), ("stream.gen_late_ms", "ms")]
END_TO_END = [("setup_s", "s"), ("text_mb_per_s", "MB/s")]
# the stream phase of traced runs: warm-up files dropped at once, then one
# small doc file every STREAM_INTERVAL_MS, below the micro-batch floor's
# saturation rate on a 4-core box
STREAM_WARM_FILES = 2
STREAM_INTERVAL_MS = 750
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[coldbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the JVM-side build."""
    h = hashlib.sha256()
    inputs = [os.path.join(JVM_PROJECT, "build.sbt"),
              os.path.join(JVM_PROJECT, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(JVM_PROJECT, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the first spark-submit on PATH with Spark's jars beside it."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("coldbench: no Spark installation found; set SPARK_HOME")


def build(stamp):
    """Compile the JVM side offline when its inputs changed; returns the
    runtime classpath and whether a build ran."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building coldbench/jvm with sbt (offline)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=JVM_PROJECT, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("coldbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), True


def host_steal():
    """CPU seconds the hypervisor has taken from this machine so far (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def heap_size():
    """The tier-1 formula: half of MemTotal in GiB, clamped to [2, 8]."""
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, work, args, deadline):
    """One benchmark JVM on the resolved classpath; returns its run record,
    or None when it had not ended by `deadline`."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    out, log_path = os.path.join(work, "result.json"), os.path.join(work, "jvm.log")
    cmd = [java, f"-Xmx{heap_size()}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "coldbench.ColdBench",
            "--work", work, "--out", out, "--launched-ms", str(int(time.time() * 1000))] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf, env=env)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"coldbench: benchmark JVM failed: {rc}")
    with open(out) as f:
        return json.load(f)


class Checker:
    """Output checks on the kept stage outputs, all in DuckDB: digests
    against the seed's reference, content checks against the generator's own
    tables, and, on a seed's first run, the program's oracle SQL."""

    def __init__(self, corpus):
        self.con = duckdb.connect()
        self.corpus = corpus
        self.attempted = 0
        self.failures = []

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    @staticmethod
    def rel(path, columns=None):
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        cols = ", ".join(f'"{c}"' for c in columns) if columns else "*"
        return f"(SELECT {cols} FROM read_parquet('{src}'))"

    def digest(self, rel, columns, floats=()):
        """Order-independent digest: row count and two sums over a per-row
        hash, floating columns rounded to 6 places so summation-order noise
        in a floating aggregate cannot flip it."""
        cols = [f'round("{c}", 6)' if c in floats else f'"{c}"' for c in columns]
        n, a, b = self.con.execute(
            f"SELECT count(*), sum(h % 1000000007), sum(h >> 34) "
            f"FROM (SELECT hash({', '.join(cols)}) AS h FROM {rel})").fetchone()
        return f"{n}:{a or 0}:{b or 0}"

    def count(self, rel):
        return self.con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]

    def content(self, o, work):
        """Checks against the tables the generator wrote."""
        rel = self.rel(o["dir"], o["columns"])
        if o["name"] == "ingest":
            docs = self.rel(os.path.join(self.corpus, "documents.parquet"))
            self.check(self.digest(rel, o["columns"]) == self.digest(docs, o["columns"]),
                       f"chain {o['iter']} ingest: output != generated documents table")
        elif o["name"] == "abbrev":
            # every injected definition in a surviving doc is found and nothing
            # else is; Schwartz-Hearst takes the shortest long form, so for
            # `hash hash (HH)` it is the last word alone
            kept = self.rel(os.path.join(work, f"iter-{o['iter']}", "filtered", "documents.parquet"))
            injected = (f"(SELECT i.* FROM {self.rel(os.path.join(self.corpus, 'abbrevs.parquet'))} i "
                        f"JOIN {kept} d USING (doc_id))")
            matched = self.count(f"(SELECT * FROM {rel} f JOIN {injected} i USING (doc_id, short_form) "
                                 f"WHERE ends_with(i.long_form, f.long_form))")
            found, want = self.count(rel), self.count(injected)
            self.check(matched == found == want,
                       f"chain {o['iter']} abbrev: {found} found, {want} injected, {matched} matched")

    def oracle(self, o):
        """Compare with the oracle SQL as tools/check_oracle.py does: columns
        sorted by name, rows sorted by every column, exact equality. Returns
        the failure, or None."""
        def norm(df):
            df = df[sorted(df.columns)]
            return df.sort_values(by=list(df.columns)).reset_index(drop=True)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"{self.rel(os.path.join(o['sf_dir'], 'documents.parquet'))}")
            s = norm(con.execute(f"SELECT * FROM {self.rel(o['dir'], o['columns'])}").fetchdf())
            d = norm(con.execute(o["sql"]).fetchdf())
            if list(s.columns) != list(d.columns):
                what = f"columns {list(s.columns)} != oracle {list(d.columns)}"
            elif len(s) != len(d):
                what = f"{len(s)} rows != oracle {len(d)}"
            else:
                what = None if s.equals(d) else "values differ from the oracle"
        except Exception as e:  # an oracle that cannot run is a failed check
            what = f"{type(e).__name__}: {str(e)[:200]}"
        finally:
            con.close()
        return what and f"{o['stage']} {o['name']} vs oracle {o['query']}: {what}"


def check_outputs(ck, outputs, work, ref_path):
    """Every chain's outputs against the seed's reference digests. Without a
    cached reference, the first chain's outputs become it once they have
    passed the oracle; a seed's oracle failures count on every run of it,
    since outputs that match a reference which failed are wrong too."""
    ref = json.load(open(ref_path)) if os.path.exists(ref_path) else None
    first = {}
    for o in outputs:
        dg = ck.digest(ck.rel(o["dir"], o["columns"]), o["columns"], o["floats"])
        o["rows"] = int(dg.split(":")[0])
        want = (ref["digests"] if ref else first).get(o["name"])
        if want is None:
            first[o["name"]] = dg
        else:
            ck.check(dg == want, f"chain {o['iter']} {o['name']}: digest {dg} != reference {want}")
        ck.content(o, work)
    if ref is None:
        # one DuckDB connection per query; they run side by side, latest
        # stage first, because the curation oracles (the connected-components
        # recursion behind clusters and keep-best) take longest
        checked = [o for o in outputs if o["iter"] == 1 and o["query"]][::-1]
        with ThreadPoolExecutor(4) as pool:
            failures = [f for f in pool.map(ck.oracle, checked) if f]
        ck.attempted += len(checked)
        ck.failures += failures
        ref = {"digests": first, "oracle_checked": len(checked), "oracle_failures": failures}
        os.makedirs(os.path.dirname(ref_path), exist_ok=True)
        with open(ref_path, "w") as f:
            json.dump(ref, f, indent=1)
    else:
        ck.attempted += ref["oracle_checked"]
        ck.failures += ref["oracle_failures"]


def stream_layers(ck, st, info):
    """The stream phase's numbers and checks. A scheduled file's latency is
    the time from when it was due to when the batch holding its docs had
    been written by the sink."""
    commits = dict(st["commits"])
    per_file, first = info["stream_docs_per_file"], info["stream_first_id"]
    out = os.path.join(st["out"], "*", "*.parquet")
    got = ck.con.execute(
        f"SELECT DISTINCT (doc_id - {first}) // {per_file} AS k, "
        f"CAST(regexp_extract(filename, 'batch-([0-9]+)', 1) AS BIGINT) AS b "
        f"FROM read_parquet('{out}', filename = true)").fetchall()
    batch_of = {k - STREAM_WARM_FILES: b for k, b in got if k >= STREAM_WARM_FILES}
    lat = [commits[batch_of[k]] - due for k, due in enumerate(st["due_ms"]) if k in batch_of]
    ck.check(len(lat) == len(st["due_ms"]),
             f"stream: {len(st['due_ms']) - len(lat)} scheduled files emitted no annotation")
    cols = ["doc_id", "concept_id", "ord", "tok", "char_start", "char_end"]
    ck.check(ck.digest(f"(SELECT {', '.join(cols)} FROM read_parquet('{out}'))", cols)
             == ck.digest(ck.rel(st["recognize"], cols), cols),
             "stream: emitted annotations != batch Concepts.recognize")
    timed = [b for b in st["batches"] if b[0] > st["warm_last_batch"]]
    med = statistics.median
    return {"stream.p50_ms": med(lat) if lat else 0.0,
            "stream.p90_ms": statistics.quantiles(lat, n=10)[8] if len(lat) > 1 else 0.0,
            "stream.batches": len(timed),
            "stream.batch_ms_p50": med(b[1] for b in timed) if timed else 0.0,
            "stream.floor_ms_p50": med(b[1] - b[2] for b in timed) if timed else 0.0,
            "stream.rows_per_batch": med(b[3] for b in timed) if timed else 0.0,
            "stream.gen_late_ms": max(d - due for d, due in zip(st["dropped_ms"], st["due_ms"]))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        raise SystemExit("coldbench: run from the repository root (src/main/scala/graft not found)")
    stamp = source_stamp()
    cp, built = build(stamp)
    # a run that built may take longer; the measured part keeps its budget
    deadline = (time.time() if built else t_start) + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # references and untraced walls hold for one program, generator and checker
    h = hashlib.sha256(stamp.encode())
    for f in (gen.__file__, __file__):
        with open(f, "rb") as fh:
            h.update(fh.read())
    version = h.hexdigest()[:16]
    try:
        corpus = os.path.join(work, "corpus")
        info = gen.generate(a.workload, a.seed, corpus)
        t_jvm, steal0 = time.time(), host_steal()
        res = run_jvm(cp, work, ["--workload", a.workload, "--corpus", corpus,
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--stream-warm", str(STREAM_WARM_FILES),
                                 "--stream-interval-ms", str(STREAM_INTERVAL_MS)],
                      deadline - CHECK_RESERVE_S)
        if res is None:
            raise SystemExit("coldbench: benchmark JVM did not end in time")
        # the hypervisor's share of this machine's CPU time while the JVM
        # ran: not a metric, but it tells a slow run on a busy host apart
        steal = (host_steal() - steal0) / (os.cpu_count() * (time.time() - t_jvm))
        outputs = res["outputs"]
        t_check = time.time()
        ck = Checker(corpus)
        ck.attempted += len({(o["iter"], o["stage"]) for o in outputs})   # stage calls, all returned
        check_outputs(ck, outputs, work, os.path.join(BUILD, "ref", version, f"{a.workload}-{a.seed}.json"))

        mb = info["text_bytes"] / 1e6
        # untraced cold-chain walls of this program version, for the
        # tracing overhead a traced run reports
        walls_path = os.path.join(BUILD, "walls", version, f"{a.workload}.json")
        walls = json.load(open(walls_path)) if os.path.exists(walls_path) else []
        if a.trace:
            layers = res["layers"]
            for st in PIPELINE_STAGES + CURATION_STAGES:
                layers[f"{st}.rows_out"] = sum(o["rows"] for o in outputs
                                               if o["stage"] == st and o["iter"] == 1)
            layers["staging.bytes_per_input_byte"] = layers.get("staging.write_mb", 0) / mb
            layers["engine.cpu_s"] = res["chain_cpu_s"][0]
            layers["engine.peak_rss_mb"] = res["peak_rss_mb"]
            # traced cold chain minus the median untraced one; 0 until an
            # untraced run of this workload has been recorded here
            layers["trace.untraced_runs"] = len(walls)
            layers["trace.overhead_s"] = (res["chain_walls_s"][0] - statistics.median(walls)
                                          if walls else 0.0)
            if a.workload == "pipeline_abstracts":
                mh = next(o for o in outputs if o["name"] == "minhash" and o["iter"] == 1)
                truth = ck.rel(os.path.join(corpus, "dup_pairs.parquet"))
                hits = ck.count(f"(SELECT * FROM {ck.rel(mh['dir'], mh['columns'])} "
                                f"JOIN {truth} USING (doc_a, doc_b))")
                layers["minhash.candidate_pairs"] = mh["rows"]
                layers["minhash.true_dup_ratio"] = hits / mh["rows"] if mh["rows"] else 0.0
            if "stream" in res:
                layers.update(stream_layers(ck, res["stream"], info))
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"spans": res["spans"], "layers": layers}, f, indent=1)
        else:
            # only the first chain runs in a cold JVM; later ones only add checks
            values = {"setup_s": res["setup_s"], "text_mb_per_s": mb / res["chain_walls_s"][0]}
            os.makedirs(os.path.dirname(walls_path), exist_ok=True)
            with open(walls_path, "w") as f:
                json.dump(walls + [res["chain_walls_s"][0]], f)
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        for msg in ck.failures:
            log(f"FAILED: {msg}")
        log(f"{a.workload} seed={a.seed}: setup {res['setup_s']:.2f} s, chains "
            f"{[round(w, 2) for w in res['chain_walls_s']]} s, chain CPU "
            f"{[round(c, 2) for c in res['chain_cpu_s']]} s, stolen CPU share "
            f"{steal:.3f}, {ck.attempted} checks, "
            f"{len(ck.failures)} failed; {time.time() - t_start:.1f} s in all: JVM "
            f"{t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s")
        print(json.dumps({"correct": not ck.failures, "attempted": ck.attempted,
                          "failed": len(ck.failures), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
