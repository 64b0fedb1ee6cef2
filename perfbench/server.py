"""Build the server harness, launch it, and talk to it over one connection."""
import hashlib
import http.client
import json
import os
import subprocess
import time
import urllib.parse
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
TARGET = os.path.join(HARNESS, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
# The compiled classes as one jar: a class-data archive can only hold
# classes loaded from jars, not from a directory.
JAR = os.path.join(TARGET, "bench-harness.jar")
# Class-data archive (AppCDS) of the classes one pass over the operation
# mix loads, written by a training run at build time. Every run maps it,
# which takes about 3 s off JVM and Spark start and a few more off the
# store build (see README.md).
CDS = os.path.join(TARGET, "bench-classes.jsa")
STAMP = os.path.join(TARGET, "bench-sources.sha256")
SPARK_JARS = "/opt/spark/jars"
# Two local cores: a job of a few tiny tasks gains nothing from four, and a
# stalled vCPU then delays a job less often (five-seed spreads fell from
# 0.35-0.47 to 0.08-0.16 of the median; see README.md).
SPARK_MASTER = "local[2]"
SPARK_PARTITIONS = "2"
# The store's two dictionary tables (time_series, prom_series) are written
# in as many shards as there are partitions, not the default 8: the stores
# hold about 100 series, and 8 shards made the set-up about 3 s longer, for
# files of a dozen rows each (see README.md).
DICT_SHARDS = "2"

# Fixed JVM settings: nothing here is derived from the machine. The heap
# starts small and the serial collector grows it by the live data left
# after a collection, so peak RSS follows what the program keeps. With G1
# it followed G1's timing-driven sizing instead (five-seed spread 0.21 of
# the median, against 0.02 with the serial collector; see README.md).
JVM_OPTS = [
    "-XX:TieredStopAtLevel=1",
    "-Xms256m", "-Xmx3g", "-XX:ActiveProcessorCount=4",
    "-XX:ReservedCodeCacheSize=512m", "-XX:+UseSerialGC",
    # compiler threads live as long as the JVM, so their CPU time can be
    # read per thread and left out of the per-operation CPU (Server.cpu_s)
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.graft.dict.shards=" + DICT_SHARDS,
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def source_digest():
    """Digest of every source the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main", "scala"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(HARNESS, "build.sbt")]
    for root in roots:
        for d, _, names in os.walk(root):
            if os.path.basename(d) == "target":
                continue
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(f[len(REPO):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log, train):
    """Compile the harness with the repository's sources, pack it as a jar
    and let `train` write the class-data archive, unless all of that was
    done from exactly these sources."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        raise SystemExit("benchmark: no program sources at src/main/scala")
    digest = source_digest()
    if (os.path.exists(STAMP) and open(STAMP).read() == digest
            and os.path.exists(JAR) and os.path.exists(CDS)):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    with open(log, "ab") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        raise SystemExit("benchmark: harness build failed, see " + log)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as jar:
        for d, _, names in sorted(os.walk(CLASSES)):
            for n in sorted(names):
                f = os.path.join(d, n)
                jar.write(f, os.path.relpath(f, CLASSES))
    os.replace(JAR + ".tmp", JAR)
    if os.path.exists(CDS):
        os.remove(CDS)
    train()
    if not os.path.exists(CDS):
        raise SystemExit("benchmark: the training run wrote no class-data "
                         "archive")
    with open(STAMP, "w") as fh:
        fh.write(digest)


class Server:
    """The server JVM. Its store root and Spark local dir live in `work`."""

    def __init__(self, work, clock_ns, trace, dump_cds=False):
        store = os.path.join(work, "store")
        port_file = os.path.join(work, "port")
        self.log = open(os.path.join(work, "server.log"), "wb")
        env = dict(os.environ, SPARK_GRAFT_STORE_ROOT=store)
        cds = ("-XX:ArchiveClassesAtExit=" if dump_cds else
               "-XX:SharedArchiveFile=") + CDS
        cmd = (["java", cds] + JVM_OPTS +
               ["-cp", JAR + ":" + SPARK_JARS + "/*",
                "graft.bench.BenchServer",
                "--data", os.path.join(work, "data"),
                "--clock-ns", str(clock_ns),
                "--port-file", port_file, "--trace", "1" if trace else "0",
                "--local-dir", os.path.join(work, "spark-local"),
                "--master", SPARK_MASTER, "--partitions", SPARK_PARTITIONS,
                "--parent-pid", str(os.getpid())])
        self.proc = subprocess.Popen(cmd, env=env, stdout=self.log,
                                     stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL)
        self.port_file = port_file
        self.conn = None

    def wait_ready(self):
        """Block until the server has finished its set-up."""
        port_file = self.port_file
        deadline = time.monotonic() + 150
        while not os.path.exists(port_file):
            if self.proc.poll() is not None:
                raise RuntimeError("server exited with %d during set-up"
                                   % self.proc.returncode)
            if time.monotonic() > deadline:
                raise RuntimeError("server set-up took over 150 s")
            time.sleep(0.05)
        self.port = int(open(port_file).read())
        self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                               timeout=120)
        self.ticks = os.sysconf("SC_CLK_TCK")
        task = "/proc/%d/task" % self.proc.pid
        self.compiler_tids = [
            t for t in os.listdir(task)
            if "CompilerThre" in open("%s/%s/comm" % (task, t)).read()]
        if not self.compiler_tids:
            raise RuntimeError("no JIT compiler threads in the server")

    def request(self, method, path, params=None, body=None):
        """One request on the keep-alive connection: (status, body bytes)."""
        if params:
            path += "?" + urllib.parse.urlencode(params)
        self.conn.request(method, path, body=body)
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def control(self, name, params=None, body=None):
        status, data = self.request("POST" if body else "GET",
                                    "/_bench/" + name, params, body)
        if status != 200:
            raise RuntimeError("control %s answered %d: %r"
                               % (name, status, data[:200]))
        return json.loads(data)

    def _ticks(self, stat):
        with open(stat) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])

    def cpu_s(self):
        """User plus system CPU seconds of the server process, from /proc,
        without its JIT compiler threads. Compilation is warm-up work that
        runs beside the operations; how much of it falls inside one of them
        depends on scheduling, and it moved the per-run CPU figures by up
        to a tenth."""
        total = self._ticks("/proc/%d/stat" % self.proc.pid)
        jit = sum(self._ticks("/proc/%d/task/%s/stat" % (self.proc.pid, t))
                  for t in self.compiler_tids)
        return (total - jit) / self.ticks

    def rss_peak_mb(self):
        with open("/proc/%d/status" % self.proc.pid) as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the server")

    def stop(self, timeout=20):
        if self.conn is None:
            # stopped before set-up ended: the store build would not see a
            # quit, and there is nothing to shut down cleanly
            self.proc.kill()
        else:
            try:
                self.control("quit")
            except Exception:
                pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        if self.conn is not None:
            self.conn.close()
        self.log.close()


def host_steal():
    """(steal, total) jiffies of the host, summed over CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])

