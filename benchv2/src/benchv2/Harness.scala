package benchv2

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.operators.ScaleOps

/** The JVM side of the benchmark. It drives the program only through its
  * public entry points: `SparkEntry.queries`, the `Tables` loaders and the
  * `Runtime` staging calls, a noop-source write that forces the complete
  * result, and `ScaleOps.releaseTracked()`, and times each call from
  * outside. Traced passes read planning from each query's `QueryExecution`.
  *
  * Modes:
  *  - `list`: writes every query key with the map that declares it, and
  *    the keys that have a DuckDB oracle, as JSON to `--out`.
  *  - `run`: an untimed check pass, the set-up (timed, on cold replay
  *    roots), an untimed warm-up pass, the timed passes, a second checksum
  *    pass; writes raw samples as JSON to `--out`. `run.py` turns them into
  *    the reported metrics.
  *
  * With `--trace 1` the timed passes alternate untraced and traced, so the
  * two can be compared within one process; traced passes write spans to
  * `--trace-out`.
  */
object Harness {
  private val MB = 1024.0 * 1024.0
  private val Tables10 = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The program's fixture staging calls the workloads name. */
  private val Staging: Map[String, (SparkSession, String) => Any] = Map(
    "Runtime.eventsStreamSplitByTime" -> graft.streaming.Runtime.eventsStreamSplitByTime,
  )

  private def now(): Double = System.nanoTime() / 1e9

  private def processCpu(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "list" => Files.writeString(Paths.get(a("out")), list())
      case "run" => Files.writeString(Paths.get(a("out")), run(a))
    }
  }

  /** Each query key with the `graft.queries` map that declares it. */
  private def modules: Map[String, String] = {
    import graft.queries._
    val maps = Seq("Relational" -> Relational.queries, "Windows" -> Windows.queries,
      "Functions" -> Functions.queries, "MlSuffStats" -> MlSuffStats.queries,
      "LlmOps" -> LlmOps.queries, "StreamingQs" -> StreamingQs.queries)
    (for ((m, qs) <- maps; k <- qs.keys) yield k -> m).toMap
  }

  private def list(): String =
    Json.obj("keys" -> modules, "oracle" -> SparkEntry.oracleSql.keys.toSeq.sorted,
      "staging" -> Staging.keys.toSeq.sorted)

  /** `.staged` signature markers under a replay root, with their mtimes. */
  private def markers(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala
      .filter(_.getFileName.toString == ".staged")
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
  }

  /** Order-independent content checksum: row count plus the xor of every
    * row's xxhash64. Map-typed columns hash through their JSON form. */
  private def checksum(df: DataFrame): String = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case ArrayType(e, _) => hasMap(e)
      case _ => false
    }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val hash = if (cols.isEmpty) lit(0L) else coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))
    val r = named.agg(count(lit(1)), hash).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  private def run(a: Map[String, String]): String = {
    val keys = a("keys").split(",").toSeq.filter(_.nonEmpty)
    val staging = a.getOrElse("stage", "").split(",").toSeq.filter(_.nonEmpty)
    val sf = a("sf")
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val reps = a("setup-reps").toInt
    val cores = a("cores").toInt
    val keyTimeout = a("key-timeout").toDouble
    val work = Paths.get(a("work")).toAbsolutePath
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = now()
    def phase(name: String): Unit = { val t = now(); phases(name) = t - mark; mark = t }
    val oracle = SparkEntry.oracleSql
    val queries = SparkEntry.queries
    val unknown = (keys ++ staging).filterNot(k => queries.contains(k) || Staging.contains(k))
    require(unknown.isEmpty, s"unknown keys or staging calls: ${unknown.mkString(", ")}")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.conf.set("graft.stage.dir", work.resolve("stage").toString)
    Tables.prep(spark)
    phase("session")

    // ---- check pass: oracle keys to parquet, the rest to checksums ----
    // It runs first, on a replay root of its own where the keys stage what
    // they read, so it also takes the JVM's first-use costs off the set-up
    // and the timed passes.
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val passErrors = mutable.LinkedHashMap.empty[String, String]
    def checkPass(tag: String, keys: Seq[String]): Map[String, String] = keys.sorted.flatMap { k =>
      val r = try {
        val df = queries(k)(spark, sf)
        if (oracle.contains(k)) {
          df.coalesce(1).write.mode("overwrite").parquet(work.resolve(s"check/$k").toString)
          None
        } else Some(k -> checksum(df))
      } catch {
        case e: Throwable =>
          checkErrors.getOrElseUpdate(k, s"$tag: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          None
      } finally ScaleOps.releaseTracked()
      r
    }.toMap
    spark.conf.set("graft.replay.dir", work.resolve("replay-check").toString)
    val sums1 = checkPass("check1", keys)
    phase("check1")

    // ---- set-up: open the tables, stage the fixtures, each on a cold root ----
    def stageAll(): Seq[Double] = staging.map { s => val t = now(); Staging(s)(spark, sf); now() - t }
    val setup = (1 to reps).map { i =>
      val root = work.resolve(s"replay-$i").toString
      spark.conf.set("graft.replay.dir", root)
      val t0 = now()
      Tables10.foreach(t => Tables.table(spark, sf, t).schema)
      val t1 = now()
      val calls = stageAll()
      val t2 = now()
      (t2 - t0, t2 - t1, markers(root).size, calls)
    }
    val warmRoot = work.resolve(s"replay-$reps").toString
    val before = markers(warmRoot)
    val c0 = now()
    stageAll()
    val checkS = now() - c0
    val staged = markers(warmRoot)
    val rebuilt = staged.count { case (f, t) => !before.get(f).contains(t) }
    phase("setup")

    // ---- timed passes ----
    val tracer = if (traced) {
      Files.createDirectories(Paths.get(a("trace-out")).toAbsolutePath.getParent)
      Some(new Tracer(spark, Files.newBufferedWriter(Paths.get(a("trace-out")))))
    } else None
    tracer.foreach(_.span("span" -> "run", "workload" -> a("workload"), "seed" -> seed,
      "cores" -> cores, "keys" -> keys, "modules" -> modules.filter(m => keys.contains(m._1))))
    def runPass(p: Int, tr: Option[Tracer]): String = {
      tr.foreach(_.register())
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(keys)
      val cpu0 = processCpu()
      val p0 = now()
      val ks = order.zipWithIndex.map { case (k, i) =>
        val id = s"p$p-k$i"
        sc.setLocalProperty("benchv2.key", id)
        sc.setLocalProperty("benchv2.phase", "build")
        tr.foreach(_.startKey(id, k))
        var err: String = null
        val t0 = now()
        var t1, t2 = t0
        try {
          val df = queries(k)(spark, sf)
          t1 = now()
          tr.foreach(_.buildDone())
          sc.setLocalProperty("benchv2.phase", "action")
          df.write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
        if (t1 == t0) t1 = now()
        t2 = now()
        val cached = sc.getRDDStorageInfo
        val t3 = now()
        ScaleOps.releaseTracked()
        val t4 = now()
        sc.setLocalProperty("benchv2.key", null)
        sc.setLocalProperty("benchv2.phase", null)
        val drain = tr.map(_.endKey()).getOrElse(0.0)
        if (err == null && t4 - t0 > keyTimeout) err = f"timeout: ${t4 - t0}%.1f s > $keyTimeout%.0f s"
        if (err != null) passErrors.getOrElseUpdate(k, s"pass $p: $err")
        tr.foreach(_.span("span" -> "key", "key_id" -> id, "key" -> k, "pass" -> p,
          "build_s" -> (t1 - t0), "action_s" -> (t2 - t1), "release_s" -> (t4 - t3), "ok" -> (err == null)))
        Json.obj("key" -> k, "id" -> id, "wall" -> (t4 - t0), "build" -> (t1 - t0),
          "action" -> (t2 - t1), "sample" -> (t3 - t2), "release" -> (t4 - t3), "drain" -> drain,
          "cached_mb" -> cached.map(r => (r.memSize + r.diskSize) / MB).sum,
          "cached_rdds" -> cached.length, "ok" -> (err == null))
      }
      val wall = now() - p0
      val cpu = processCpu() - cpu0
      tr.foreach(_.unregister())
      val layers = tr.map(_.takePass()).getOrElse(Map.empty)
      tr.foreach(_.span("span" -> "pass", "pass" -> p, "wall_s" -> wall, "cpu_s" -> cpu, "counts" -> layers))
      Json.obj("pass" -> p, "traced" -> tr.isDefined, "wall" -> wall, "cpu" -> cpu,
        "keys" -> Json.Raw(ks.mkString("[", ",", "]")), "layers" -> layers)
    }
    // One untimed pass first: the check pass leaves the JIT still warming up,
    // and the first pass after it ran 10-25% slower than the rest.
    runPass(-1, None)
    phase("warmup")
    val passes = mutable.ArrayBuffer.empty[String]
    val minPasses = if (traced) 4 else 3
    val deadline = now() + seconds
    while (passes.size < minPasses || now() < deadline) {
      val p = passes.size
      passes += runPass(p, tracer.filter(_ => p % 2 == 1))
    }
    tracer.foreach { t => t.span("span" -> "end"); t.close() }
    // Fixtures the keys built although the set-up should have staged them.
    val passBuilds = markers(warmRoot).count { case (f, t) => !staged.get(f).contains(t) }
    phase("timed")

    // ---- second check pass: checksums must agree with the first ----
    val sums2 = checkPass("check2", keys.filterNot(oracle.contains))
    val mismatched = sums1.keys.filter(k => sums2.get(k).exists(_ != sums1(k)))
    mismatched.foreach(k => checkErrors.getOrElseUpdate(k, s"checksum differs across passes: ${sums1(k)} vs ${sums2(k)}"))
    phase("check2")

    val out = Json.obj(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / MB, "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString, "jdk" -> System.getProperty("java.version"),
      "setup" -> Map("samples" -> setup.map(_._1), "staging" -> setup.map(_._2),
        "builds" -> setup.map(_._3), "calls" -> staging.size,
        "call_s" -> staging.zipWithIndex.map { case (s, i) => s -> setup.map(_._4(i)) }.toMap, "check_s" -> checkS,
        "check_rebuilt" -> rebuilt, "pass_builds" -> passBuilds),
      "checks" -> Map("checksummed" -> sums1.size, "oracle" -> keys.filter(oracle.contains).sorted,
        "oracle_sql" -> keys.filter(oracle.contains).map(k => k -> oracle(k)).toMap),
      "run_phases_s" -> phases, "check_errors" -> checkErrors, "pass_errors" -> passErrors,
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")))
    spark.stop()
    out
  }
}
