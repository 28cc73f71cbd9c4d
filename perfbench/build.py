"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/scala) with the Scala
compiler that ships among the Spark jars the program's build.sbt names.

Classes land in .bench_build/classes-<hash of sources>, so a changed source
tree gets a fresh build and an unchanged one is reused.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def repo_root():
    return os.path.dirname(HERE)


def jars_dir(root):
    """The jar directory of build.sbt's `unmanagedBase`, or $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sys.exit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def java_options():
    """The JVM options build.sbt gives the program's forked runs."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    out = []
    for p in opens:
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir
    return out + ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC"]


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return prog + own


def build(root, work):
    """Compiles when needed and returns the run classpath."""
    jars = os.path.join(jars_dir(root), "*")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(work, f"classes-{h.hexdigest()[:16]}")
    if not os.path.exists(os.path.join(out, ".ok")):
        tmp = f"{out}.tmp-{os.getpid()}"
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars,
                            "scala.tools.nsc.Main",
                            "-nowarn", "-d", tmp, "-classpath", jars, f"@{argfile}"],
                           stdout=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit("perfbench: compilation failed")
        os.remove(argfile)
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out + os.pathsep + jars
