package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{SparkEntry, Tables}
import graft.similarity.IvfPq

/** One benchmark process: a closed loop with one client that runs the
  * given queries one at a time, pass after pass, and writes every raw
  * sample to a JSON file. run.py turns the samples into metrics.
  *
  * Arguments are `key=value`: data, queries (comma list), parquet (the
  * comma list of queries written to parquet; the rest go to the noop
  * sink), extra (the comma list of probes run after each traced pass,
  * outside its wall time), work (a scratch dir), out (the JSON file),
  * seconds, seed, cores, trace (0 or 1), setup_only (0 or 1).
  *
  * Untraced: a cold first pass, then steady passes until `seconds` have
  * passed, at least one. Traced: the same, but every second steady pass
  * is traced, and there are at least three (untraced, traced, untraced),
  * so the trace overhead is measured in-process against passes on
  * either side.
  * Afterwards, untimed, each query's last result is digested (row count
  * and an order-independent hash) for run.py to check.
  */
object Harness {
  /** A pseudo-query timing IvfPq.buildIndex (the build) and
    * IvfPq.probeIndex (the action), each called directly.
    */
  val IvfPqDirect = "ivfpq_direct"

  final case class Args(data: String, queries: Seq[String], parquet: Set[String],
      extra: Seq[String], work: String, out: String, seconds: Double, seed: Long,
      cores: Int, trace: Boolean, setupOnly: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    def get(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    def list(k: String) = kv.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    val a = Args(get("data"), list("queries"), list("parquet").toSet, list("extra"),
      get("work"), get("out"), get("seconds").toDouble, get("seed").toLong,
      get("cores").toInt, get("trace") == "1", kv.get("setup_only").contains("1"))
    require(a.cores >= 1 && a.seconds > 0, "cores and seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = SparkEntry.queries
    val readyMs = System.currentTimeMillis()
    val result = mutable.LinkedHashMap[String, Any]("ready_ms" -> readyMs)
    try {
      if (!a.setupOnly) new Run(spark, queries, a).run(result)
    } finally {
      Json.write(a.out, result)
      spark.stop()
    }
  }

  private final class Run(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame], a: Args) {
    private val sc = spark.sparkContext
    private val tracer = new Tracer
    private val last = mutable.Map[String, DataFrame]()
    private val ivfDirs = mutable.Buffer[File]()

    private def outDir(q: String): String = s"${a.work}/out/$q"

    private def build(q: String, pass: Int, rec: mutable.Map[String, Any]): DataFrame =
      if (q == IvfPqDirect) {
        val e = Tables.embeddings(spark, a.data)
        val dir = new File(s"${a.work}/ivfpq_direct/p$pass")
        dir.mkdirs()
        ivfDirs += dir
        val t0 = System.nanoTime()
        val idx = IvfPq.buildIndex(e.filter(col("vec_id") >= 10), "vec_id", "embedding",
          nClusters = 8, m = 8, ksub = 16, path = dir.getPath)
        val t1 = System.nanoTime()
        rec("ivfpq_build_s") = (t1 - t0) / 1e9
        val df = IvfPq.probeIndex(idx, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 4)
        rec("ivfpq_probe_call_s") = (System.nanoTime() - t1) / 1e9
        df
      } else {
        val fn = queries.getOrElse(q, throw new NoSuchElementException(
          s"SparkEntry.queries has no query named $q"))
        fn(spark, a.data)
      }

    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def act(q: String, df: DataFrame): Unit =
      if (a.parquet(q)) df.write.mode("overwrite").parquet(outDir(q))
      else noop(df)

    /** Runs `f` with every job it starts tagged `tag` (when traced). */
    private def tagged[T](tag: Option[String])(f: => T): T = {
      sc.setLocalProperty(Tracer.TagKey, tag.orNull)
      try f finally sc.setLocalProperty(Tracer.TagKey, null)
    }

    private def layer(tag: Option[String]): Option[Map[String, Any]] = tag.map { t =>
      PerfbenchBus.drain(sc)
      tracer.take(t).toJson
    }

    /** Seconds of the current pass spent outside the measured loop. */
    private var untimed = 0.0

    private def one(q: String, pass: Int, traced: Boolean): mutable.Map[String, Any] = {
      val rec = mutable.LinkedHashMap[String, Any](
        "q" -> q, "pass" -> pass, "traced" -> traced)
      def tag(phase: String) = if (traced) Some(s"$pass/$q/$phase") else None
      try {
        val t0 = System.nanoTime()
        val df = tagged(tag("build"))(build(q, pass, rec))
        rec("build_s") = (System.nanoTime() - t0) / 1e9
        layer(tag("build")).foreach(rec("build") = _)
        val startMs = System.currentTimeMillis()
        val t1 = System.nanoTime()
        tagged(tag("action"))(act(q, df))
        rec("action_s") = (System.nanoTime() - t1) / 1e9
        rec("action_span_ms") = Seq(startMs, System.currentTimeMillis())
        layer(tag("action")).foreach(rec("action") = _)
        if (a.parquet(q)) {
          val files = Option(new File(outDir(q)).listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.startsWith("part-"))
          rec("output_files") = files.length
          rec("output_bytes") = files.map(_.length).sum
          if (traced) {
            // the same plan through the noop sink: the difference is the sink
            val t2 = System.nanoTime()
            tagged(tag("noop"))(noop(df))
            rec("noop_action_s") = (System.nanoTime() - t2) / 1e9
            layer(tag("noop")) // drops its counters and planning time
            untimed += (System.nanoTime() - t2) / 1e9
          }
        }
        last(q) = df
        rec("status") = "ok"
      } catch {
        case e: Throwable =>
          // a guard that rejects its input is a refusal; anything else fails
          rec("status") = e match {
            case _: IllegalArgumentException | _: UnsupportedOperationException => "refused"
            case _ => "failed"
          }
          rec("message") = message(e)
          last.remove(q)
      }
      rec
    }

    private def pass(n: Int, order: Seq[String], traced: Boolean): Map[String, Any] = {
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      untimed = 0.0
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val recs = order.map(q => one(q, n, traced))
      val wall = (System.nanoTime() - t0) / 1e9 - untimed
      val gc = (gcMs() - gc0) / 1e3
      val extra = if (traced) a.extra.map(q => one(q, n, traced)) else Nil
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      // the previous pass's index dirs are no longer referenced
      ivfDirs.dropRight(1).foreach(deleteTree)
      ivfDirs.remove(0, math.max(0, ivfDirs.size - 1))
      Map("pass" -> n, "traced" -> traced, "wall_s" -> wall, "gc_s" -> gc,
        "queries" -> recs, "extra" -> extra)
    }

    /** Row count and an order-independent content hash of each output:
      * one job over the union of all of them, or, if that fails, one job
      * per output so the failure is pinned to its query.
      */
    private def digests(outs: Seq[(String, DataFrame)]): Map[String, Map[String, Any]] = {
      // hash functions take every type but maps, which go through JSON
      def hashable(t: DataType): Boolean = t match {
        case _: MapType => false
        case s: StructType => s.fields.forall(f => hashable(f.dataType))
        case a: ArrayType => hashable(a.elementType)
        case _ => true
      }
      def hashed(q: String, df: DataFrame) = {
        // positional names: outputs may repeat a column name
        val names = df.columns.indices.map(i => s"c$i")
        val cols = names.zip(df.schema.fields).map { case (n, f) =>
          if (hashable(f.dataType)) col(n) else to_json(col(n))
        }
        df.toDF(names: _*).select(lit(q).as("q"), xxhash64(cols: _*).as("h"))
      }
      def digest(parts: Seq[(String, DataFrame)]): Map[String, Map[String, Any]] = {
        val rows = parts.map { case (q, df) => hashed(q, df) }.reduce(_ union _)
          .groupBy("q").agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
          .collect().map(r => r.getString(0) ->
            Map[String, Any]("rows" -> r.getLong(1), "hash" -> r.getDecimal(2).toPlainString))
          .toMap
        // an empty output has no group: zero rows, hash 0
        parts.map { case (q, _) =>
          q -> rows.getOrElse(q, Map[String, Any]("rows" -> 0L, "hash" -> "0"))
        }.toMap
      }
      if (outs.isEmpty) Map.empty
      else try digest(outs) catch {
        case _: Throwable => outs.map { o =>
          try digest(Seq(o)).head catch {
            case e: Throwable => o._1 -> Map[String, Any]("error" -> message(e))
          }
        }.toMap
      }
    }

    def run(result: mutable.Map[String, Any]): Unit = {
      val rng = new scala.util.Random(a.seed)
      val passes = mutable.Buffer[Map[String, Any]]()
      passes += pass(0, rng.shuffle(a.queries), traced = false)
      val start = System.nanoTime()
      var n = 1
      def elapsed = (System.nanoTime() - start) / 1e9
      val minSteady = if (a.trace) 3 else 1
      while (elapsed < a.seconds || n <= minSteady) {
        passes += pass(n, rng.shuffle(a.queries), traced = a.trace && n % 2 == 0)
        n += 1
      }
      result("measured_s") = elapsed
      result("peak_rss_kb") = peakRssKb()
      result("passes") = passes.toSeq
      val t0 = System.nanoTime()
      result("digests") = digests((a.queries ++ a.extra).flatMap(q => last.get(q).map(df =>
        q -> (if (a.parquet(q)) spark.read.parquet(outDir(q)) else df))))
      result("check_s") = (System.nanoTime() - t0) / 1e9
      deleteTree(new File(s"${a.work}/ivfpq_direct"))
      deleteTree(new File(s"${a.work}/out"))
    }
  }

  /** Collection time of every collector in this JVM: in local mode the
    * driver and the executors share it.
    */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  private def peakRssKb(): Long = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}".take(1000)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}

/** Just enough JSON output for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(StandardCharsets.UTF_8)): Unit
}
