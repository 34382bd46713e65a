"""Build the engine from source and drive it through py4j.

The benchmark never links against the engine: it compiles `src/main/scala`
with the Scala compiler that ships in Spark's jar directory, starts one
local Spark session with the compiled classes on the driver class path,
and calls the engine's public Scala entry points over the py4j gateway.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark
        home = os.path.dirname(pyspark.__file__)
    return home


def sources(root):
    return sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))


def build(root, out_base):
    """Compile the engine once per source tree; returns the classes dir.

    The output dir is keyed by a hash of every source file, so an edited
    tree rebuilds and an unchanged one is reused across runs."""
    srcs = sources(root)
    if not srcs:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(out_base, "classes-" + h.hexdigest()[:16])
    os.makedirs(out_base, exist_ok=True)
    with open(os.path.join(out_base, ".build.lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        jars = os.path.join(spark_home(), "jars", "*")
        argfile = os.path.join(out_base, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("perfbench: engine compile failed")
        os.rename(tmp, out)
        print(f"[perfbench] compiled {len(srcs)} files in {time.time() - t0:.1f}s",
              file=sys.stderr)
    return out


def session(classes, run_dir, cores, event_log):
    """One local Spark session with the engine's measurement settings:
    local[cores], shuffle partitions = cores, AQE on, UTC."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no JVM writes its hsperfdata file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession
    java_opts = " ".join(["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] +
                         ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS])
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.extraClassPath", classes)
         .config("spark.driver.extraJavaOptions", java_opts)
         .config("spark.driver.memory", "3g")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(tmp, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse")))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Jvm:
    """Thin py4j helpers for calling Scala objects."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.jss = spark._jsparkSession
        self.jsc = spark.sparkContext._jsc
        self.nil = self.obj("scala.collection.immutable.Nil")

    def obj(self, name):
        """The singleton instance of Scala `object name` (`$` for nesting)."""
        return self.jvm.java.lang.Class.forName(name + "$").getField("MODULE$").get(None)

    def seq(self, items):
        lst = self.jvm.java.util.ArrayList()
        for x in items:
            lst.add(x)
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asScala(lst).toSeq()

    def col(self, expr):
        return self.jvm.org.apache.spark.sql.functions.expr(expr)

    def job_group(self, gid):
        if gid is None:
            self.jsc.clearJobGroup()
        else:
            self.jsc.setJobGroup(gid, gid, False)

    def rows(self, jrows):
        """Collected java Rows -> tuples of python values (outside any timed span)."""
        out = []
        for r in jrows:
            vals = []
            for i in range(r.size()):
                v = r.get(i)
                if v is not None and not isinstance(v, (int, float, str, bool)):
                    v = str(v)
                vals.append(v)
            out.append(tuple(vals))
        return out

    def heap_live_mb(self):
        rt = self.jvm.java.lang.Runtime.getRuntime()
        self.jvm.java.lang.System.gc()
        return (rt.totalMemory() - rt.freeMemory()) / 1048576.0

    def gc_ms(self):
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def jit_ms(self):
        c = self.jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return float(c.getTotalCompilationTime())

    def persisted(self):
        """(persisted RDD count, block-manager storage MB in use)."""
        sc = self.jss.sparkContext()
        n = sc.getPersistentRDDs().size()
        used = 0
        for st in self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                sc.getExecutorMemoryStatus().values().toSeq()):
            used += st._1() - st._2()
        return n, used / 1048576.0
