"""Build file of the benchmark package.

Compiles the project's main sources (`src/main/scala`) and this
package's harness (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution, against Spark's jars. No build tool and no
dependency download are involved, and every output lands in the build
directory. A stamp over all source files skips the build when nothing
changed.

    python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The `jars` directory of the Spark distribution: $SPARK_HOME/jars, or
    the one beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler found; "
                         "set SPARK_HOME")
    return jars


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "*.scala")))
    if not main:
        raise SystemExit(f"perfbench: no project sources under {root}/src/main/scala")
    return main, bench


def _scalac(jars, classpath, out, sources):
    os.makedirs(out, exist_ok=True)
    compiler = ":".join(sorted(glob.glob(os.path.join(jars, f"scala-{k}-*.jar"))[0]
                               for k in ("compiler", "library", "reflect")))
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile],
                   check=True, stdout=sys.stderr)


def build(root, build_dir):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    jar_cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    main, bench = _sources(root)
    digest = hashlib.sha256(jars.encode())
    for path in main + bench:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    main_out = os.path.join(build_dir, "classes", "main")
    bench_out = os.path.join(build_dir, "classes", "bench")
    stamp = os.path.join(build_dir, "classes", "stamp")
    cp = ":".join([bench_out, main_out, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    shutil.rmtree(os.path.join(build_dir, "classes"), ignore_errors=True)
    _scalac(jars, jar_cp, main_out, main)
    _scalac(jars, main_out + ":" + jar_cp, bench_out, bench)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return cp


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
