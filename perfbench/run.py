#!/usr/bin/env python3
"""Runs one benchmark workload from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark when their sources changed (see
build.py), then runs the workload in one JVM. The JVM prints the result
as the last line of standard output and exits non-zero when any op
failed. Other entry points: `--selftest` runs the benchmark's own tests,
`--record registry` rewrites the registry expectations and
`--record pipeline` the pipeline expectations.
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TIMEOUT_S = 170


def main(argv):
    build.build()
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if argv[:1] == ["--selftest"]:
        main_class, args = "perfbench.SelfTest", argv[1:]
    elif argv[:1] == ["--record"]:
        main_class, args = "perfbench.Record", argv[1:]
    else:
        main_class, args = "perfbench.Main", argv
    cmd = ["java", "-Xmx3g", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
           "-cp", build.classpath(), main_class, *args]
    # Spark's scratch space stays inside the checkout, whatever the caller set
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(build.OUT, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env)
    try:
        return proc.wait(timeout=None if main_class == "perfbench.Record" else TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: no result within {TIMEOUT_S} s", file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
