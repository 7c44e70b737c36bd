"""Build the harness together with the program's sources, once per
source state, and say how to launch it."""
import hashlib
import json
import os
import signal
import subprocess
import sys

# Module opens Spark needs on JDK 17 when it is not started by
# spark-submit (the program's build passes the same list to its runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def _inputs(root):
    bench = os.path.join(root, "perfbench")
    yield os.path.join(root, "build.sbt")  # names the Spark jars
    yield os.path.join(bench, "build.sbt")
    yield os.path.join(bench, "project", "build.properties")
    for top in (os.path.join(bench, "src"), os.path.join(root, "src", "main")):
        for d, subdirs, files in os.walk(top):
            subdirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def digest(root):
    h = hashlib.sha256()
    for p in _inputs(root):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(root, timeout=850):
    """Classpath of the built harness; builds with sbt when the program
    or harness sources changed since the last build in this checkout."""
    bench = os.path.join(root, "perfbench")
    stamp = os.path.join(bench, "target", "perfbench-build.json")
    want = digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == want and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"]
    print("[perfbench] building harness and program with sbt ...", file=sys.stderr)
    # In its own process group, so a timeout stops sbt's JVM as well.
    p = subprocess.Popen(
        ["sbt", "-batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=bench, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    try:
        output, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    lines = output.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(output[-4000:])
        raise RuntimeError(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip().split(os.pathsep)
    if not any(e.endswith("classes") for e in cp):
        sys.stderr.write(output[-4000:])
        raise RuntimeError("sbt did not print the runtime classpath")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": want, "classpath": cp}, f)
    return cp


def java_command(cp, heap, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *opens,
            "-cp", os.pathsep.join(cp), "perfbench.Harness"]
