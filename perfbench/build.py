"""Build file of the benchmark package, into ``.bench_build/`` at the root of
the checkout:

1. compiles the program's sources (``src/main/scala``) and the harness
   (``perfbench/scala``) with the Scala compiler that ships in the Spark
   distribution, and packs each into a jar; a stamp of the sources' hash
   skips the step when nothing changed;
2. runs the program's first load on the seed-independent base landing and
   keeps the stores it leaves (``base/``): every ``etl_incremental`` run
   restores them instead of loading again;
3. in the same JVM runs a few queries on tiny inputs and records a
   class-data-sharing archive of the classes loaded, so every benchmark JVM
   maps them instead of loading and verifying them again.

Every harness JVM runs with the C1 compiler only and the parallel
collector: a run is one short-lived JVM whose work is mostly one-off
planning and code generation, and on a few shared cores the C2 compiler
threads competed with it for CPU (about half of a run's CPU seconds with
C2; see README, Notes).

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(OUT, "classes.jsa")
BASE = os.path.join(OUT, "base")
BASE_DONE = os.path.join(BASE, "complete")
# the Spark distribution: $SPARK_HOME, else the one whose spark-submit is on PATH
SPARK_JARS = os.path.join(
    os.environ.get("SPARK_HOME") or
    os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "."))),
    "jars")
# the module opens Spark 4 needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TRAIN_QUERIES = ["q03_seller_perf_daily", "q12_scd2_classify", "q22_dedup_minhash_lsh",
                 "q128_time_travel"]


def _sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _scalac(srcs, out, cp):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", cp, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"build failed: scalac exited {r.returncode}")


def _jar(srcs, name, cp, also=()):
    """Compile `srcs` into OUT/<name>.jar unless its stamp is current."""
    h = hashlib.sha256()
    for p in list(also) + srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    jar, stamp = os.path.join(OUT, f"{name}.jar"), os.path.join(OUT, f"{name}.stamp")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar
    classes = os.path.join(OUT, name)
    shutil.rmtree(classes, ignore_errors=True)
    for p in (stamp, ARCHIVE):  # archive and base state belong to the old jars
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(BASE, ignore_errors=True)
    _scalac(srcs, classes, cp)
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jar


def java_cmd(cp, work, jvm_opts=()):
    """The JVM command line of a harness run in `work`."""
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp", *jvm_opts]
    if os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Harness"]


def _train(cp):
    """Write the base state and record the class-data-sharing archive, in
    one JVM."""
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen.write_landing(gen.BASE_SEED, gen.BASE_SEED, gen.ETL_SF,
                          os.path.join(work, "landing"), 0)
        gen.write_star(0, 0.001, os.path.join(work, "star"))
        out = os.path.join(work, "out.json")
        args = {"workload": "train", "trace": 1, "seconds": 0, "work": work,
                "cpus": os.cpu_count() or 4, "out": out, "base": BASE,
                "landing": os.path.join(work, "landing"), "drops": 0, "arm": "default",
                "tables": table_arg(), "star": os.path.join(work, "star"),
                "queries": ",".join(TRAIN_QUERIES), "check": ""}
        cmd = java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        r = subprocess.run(cmd + [f"{k}={v}" for k, v in args.items()], cwd=work,
                           capture_output=True, text=True, timeout=800)
        res = json.load(open(out)) if os.path.exists(out) else {"fatal": "no output"}
        if r.returncode != 0 or not os.path.exists(ARCHIVE) or "fatal" in res \
                or res["ops"]["failed"]:
            sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
            raise SystemExit(f"build failed: training run ({res.get('fatal', res.get('errors'))})")
        with open(BASE_DONE, "w") as f:
            f.write("base state of the current jars\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def table_arg():
    """The pipeline's table list as the harness reads it:
    ``Table:pk:decimal-col...`` joined by ``;``."""
    return ";".join(":".join([t, pk] + gen.DECIMALS[t]) for t, pk in gen.TABLES.items())


def build():
    """Build what is missing; returns the harness classpath."""
    program, harness = _sources("src/main/scala"), _sources("perfbench/scala")
    if not program:
        raise SystemExit("build failed: no program sources under src/main/scala")
    spark = os.path.join(SPARK_JARS, "*")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise SystemExit(f"build failed: no Spark jars in {SPARK_JARS} (set SPARK_HOME)")
    os.makedirs(OUT, exist_ok=True)
    prog = _jar(program, "program", spark)
    bench = _jar(harness, "harness", os.pathsep.join([prog, spark]),
                 also=program + [os.path.join(ROOT, "perfbench", "gen.py")])
    cp = os.pathsep.join([bench, prog, spark])
    if not os.path.exists(ARCHIVE) or not os.path.exists(BASE_DONE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        _train(cp)
    return cp


if __name__ == "__main__":
    print(build())
