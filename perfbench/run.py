#!/usr/bin/env python3
"""End-to-end benchmark of graft: one workload, one seed, one run.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: reservoir, dedup-verify (see perfbench/README.md). The script builds the checkout's own sources with the
Scala compiler shipped in the Spark jars (skipped when nothing changed since
the last build), runs the workload in a fresh JVM on those classes, checks
the outputs (closed forms and round trips in the JVM, the DuckDB oracle
here), and prints one JSON object as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits non-zero, printing no result, if it cannot build or run.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BUILD = ".bench_build"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            return m.group(1)
    return None


SPARK_JARS = spark_jars()
WORKLOADS = ("reservoir", "dedup-verify")
DEADLINE_S = 170  # a run must end within 180 s once built

# Keeps the JVM from writing its performance-counter file to the system temp
# directory, so that a run writes only inside the checkout.
NO_PERF_FILE = "-XX:-UsePerfData"
# The JVM flags of build.sbt's javaOptions, fixed here so that both sides of
# a comparison run with the same ones.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    NO_PERF_FILE]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def files_under(d, ext):
    return sorted(glob.glob(os.path.join(d, "**", "*" + ext), recursive=True))


def build():
    """Compile the program and the benchmark unless the sources are unchanged."""
    program = files_under("src/main/scala", ".scala")
    bench = files_under(os.path.join(os.path.dirname(__file__), "src"), ".scala")
    if not program:
        sys.exit("perfbench: no program sources under src/main/scala")
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: no Spark jars at {SPARK_JARS}")
    main = os.path.join(BUILD, "classes", "main")
    bcls = os.path.join(BUILD, "classes", "bench")
    t0 = time.time()
    program_digest = digest(program + files_under("src/main/resources", ""))
    if compile_if_changed(main, program, f"{SPARK_JARS}/*", program_digest):
        shutil.rmtree(bcls, ignore_errors=True)  # compiled against the old classes
    compile_if_changed(bcls, bench, f"{main}:{SPARK_JARS}/*", digest(bench) + program_digest)
    log(f"build checked in {time.time() - t0:.1f} s")


def digest(files):
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def compile_if_changed(out, sources, classpath, stamp_text):
    stamp = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == stamp_text:
        return False
    shutil.rmtree(out, ignore_errors=True)
    scalac(out, sources, classpath)
    with open(stamp, "w") as fh:
        fh.write(stamp_text)
    return True


def scalac(out, sources, classpath):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    r = subprocess.run(["java", NO_PERF_FILE, "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
                        "scala.tools.nsc.Main", "-nowarn", "-d", out,
                        "-classpath", classpath, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"perfbench: compilation into {out} failed")


def run_jvm(a, work, deadline):
    result = os.path.join(work, "result.json")
    cp = ":".join([os.path.join(BUILD, "classes", "bench"), os.path.join(BUILD, "classes", "main"),
                   "src/main/resources", f"{SPARK_JARS}/*"])
    launch_ms = int(time.time() * 1000)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}", "-cp", cp,
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
           "--result", result, "--launch-ms", str(launch_ms)]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: the run did not end in time")
    finally:
        if p.poll() is None:  # timed out, or this script was told to stop
            p.kill()
            p.wait()
    if rc != 0 or not os.path.exists(result):
        sys.exit(f"perfbench: the JVM exited with code {rc}")
    with open(result) as fh:
        return json.load(fh)


# ---- DuckDB oracle, compared the way tools/check.py compares -------------

def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, exp):
    import numpy as np
    import pandas as pd
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    g, e = canon(got), canon(exp)
    for c in g.columns:
        gc, ec = g[c], e[c]
        if pd.api.types.is_float_dtype(gc):
            ok = gc.fillna(1e308) == ec.fillna(1e308)  # bit-equal, as the oracle gate demands
        elif gc.dtype == object:
            ok = gc.fillna("\0NULL") == ec.fillna("\0NULL")
        else:
            ok = (gc.astype(object).where(gc.notna(), None) ==
                  ec.astype(object).where(ec.notna(), None)) | (gc.isna() & ec.isna())
        if not np.all(ok):
            i = int(np.where(~np.asarray(ok))[0][0])
            return f"column {c} row {i}: spark={g[c].iloc[i]!r} oracle={e[c].iloc[i]!r}"
    return None


def perturbed(df):
    """A copy with one value changed: the first numeric column of row 0."""
    import pandas as pd
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_numeric_dtype(df[c]) and not pd.api.types.is_bool_dtype(df[c]):
            df.loc[0, c] = df[c].iloc[0] + 1
            return df
    return df.iloc[1:]


def oracle_errors(res):
    import duckdb
    import pandas as pd
    errors = []
    for name, path, docs in res.get("oracle", []):
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/documents.parquet/*.parquet')")
        got = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{path}/*.parquet"))],
                        ignore_index=True)
        exp = con.sql(res["oracle_sql"][name]).df()
        err = compare(got, exp)
        if err:
            errors.append(f"{name} vs DuckDB oracle: {err}")
        elif len(got) == 0 or compare(perturbed(got), exp) is None:
            errors.append(f"self-test: the oracle check of {name} accepted a perturbed output")
        con.close()
    return errors


def main():
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: stopped"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build()
    deadline = time.time() + DEADLINE_S
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.abspath(runs))
    try:
        res = run_jvm(a, work, deadline)
        errors = res["errors"] + oracle_errors(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        log(f"CHECK FAILED: {e}")
    log(f"{res['attempted']} ops in {res['rounds']} rounds, {res['failed']} failed")
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
