"""Build the program and its benchmark package, launch JVMs, speak HTTP.

Every process started here is registered and stopped by `stop_all`, which
run.py calls on every exit path.
"""
import hashlib
import http.client
import json
import os
import select
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# JDK 17 needs these when a SparkSession starts outside spark-submit; the
# same list the repository's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_procs = []


def cores():
    """Spark cores: one fewer than the host's, at most 3, so the load
    generator, GC and JIT threads have a core of their own and the run
    does not measure the scheduler."""
    return max(1, min(3, (os.cpu_count() or 1) - 1))


class BenchError(Exception):
    """The benchmark cannot run here (no sources, build failed, ...)."""


def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(work):
    """Compile the program and the benchmark package with the repository's
    own sbt build; returns the runtime classpath. Reuses the last build
    when no source file changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("program sources not found beside the benchmark "
                         "(expected build.sbt and src/main/scala at %s)" % ROOT)
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(work, "build.stamp")
    cpf = os.path.join(work, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cpf):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cpf) as f2:
                    return f2.read()
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(work, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines()
             if "scala-2.13" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        with open(log, "a") as lf:
            lf.write(r.stdout)
        raise BenchError("build failed (see %s)" % log)
    cp = lines[-1].strip()
    with open(cpf, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def java_cmd(cp, tmp, main, args, xmx="2g"):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx" + xmx, "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + [str(a) for a in args])


def spawn(cmd, log):
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                             stdin=subprocess.PIPE, stderr=err)
    _procs.append(p)
    return p


def stop_all():
    """Kills every process this run started that is still alive, and
    waits for each."""
    for p in _procs:
        if p.poll() is None:
            p.kill()
        p.wait()


def readline(p, timeout):
    """Next stdout line of `p`, or BenchError after `timeout` seconds."""
    deadline = time.time() + timeout
    buf = b""
    fd = p.stdout.fileno()
    while not buf.endswith(b"\n"):
        left = deadline - time.time()
        if left <= 0 or p.poll() is not None and not select.select(
                [fd], [], [], 0)[0]:
            raise BenchError("process ended or timed out before answering")
        if select.select([fd], [], [], min(left, 0.5))[0]:
            c = os.read(fd, 1)
            if not c:
                raise BenchError("process closed its output")
            buf += c
    return buf.decode().strip()


class Gateway:
    """One gateway JVM over its own warehouse; `ready_s` is launch → bound."""

    def __init__(self, cp, warehouse, tmp, log, main="graftbench.GatewayMain",
                 cores=4):
        os.makedirs(warehouse, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.proc = spawn(java_cmd(cp, tmp, main,
                                   [warehouse, "demo", cores, tmp]),
                          log)
        line = readline(self.proc, 150)
        while not line.startswith("READY "):
            line = readline(self.proc, 150)
        self.ready_s = time.perf_counter() - t0
        self.port = int(line.split()[1])

    def request(self, method, path, body=None):
        """Returns (status, body bytes, start, end) in perf_counter seconds;
        status 0 when the request raised."""
        t0 = time.perf_counter()
        try:
            c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
            c.request(method, path, body=body,
                      headers={"Content-Type": "application/json"})
            r = c.getresponse()
            data = r.read()
            c.close()
            return r.status, data, t0, time.perf_counter()
        except (OSError, http.client.HTTPException) as e:
            return 0, str(e).encode(), t0, time.perf_counter()

    def json(self, method, path, body=None):
        s, b, _, _ = self.request(method, path, body)
        if s != 200:
            raise BenchError("%s %s -> %s %s" % (method, path, s, b[:300]))
        return json.loads(b)

    def stop(self):
        """Kills the JVM and waits for it: its warehouse is thrown away, so
        nothing needs an orderly shutdown."""
        self.proc.kill()
        self.proc.wait()


def command(gw, line):
    """Sends one command line to a TraceMain gateway; returns its reply."""
    gw.proc.stdin.write((line + "\n").encode())
    gw.proc.stdin.flush()
    return json.loads(readline(gw.proc, 170))


def quantile(xs, q):
    """Nearest-rank quantile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]
