package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import org.apache.spark.sql.SparkSession

/** What every graft main shares: the Spark session, the `SPARK_GRAFT_*`
  * parse, and Locale.ROOT numbers / escaped strings for the JSON lines
  * they print. Scratch disk belongs to [[TempDirs]].
  *
  * The driver heap is `-Xmx` on the launching JVM (tools/run.sh,
  * build.sbt): in local mode `spark.driver.memory` is read only by
  * spark-submit, before the JVM starts, so the session does not set it.
  */
object Harness {

  /** Environment values, each validated where it is read. A main reads
    * all of its values before it calls [[session]], so a bad value stops
    * the run before any Spark work starts, and the error names the
    * variable and its value.
    */
  final class Env(vars: Map[String, String]) {
    def get(name: String): Option[String] = vars.get(name)

    def positiveInt(name: String, default: Int): Int =
      positive(name, default)(_.toIntOption)

    def positiveDouble(name: String, default: Double): Double =
      positive(name, default)(_.toDoubleOption.filterNot(_.isInfinite))

    private def positive[T](name: String, default: T)(parse: String => Option[T])(
        implicit num: Numeric[T]): T =
      vars.get(name) match {
        case None => default
        case Some(raw) => parse(raw).filter(num.signum(_) > 0).getOrElse(
          throw new IllegalArgumentException(
            s"$name=\"$raw\" is not valid: expected a positive number"))
      }
  }

  def env: Env = new Env(sys.env)

  /** local[cpus] with `shuffle` shuffle partitions, UTC session time
    * zone, no UI, WARN logging.
    */
  def session(cpus: Int, shuffle: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def session(cpus: Int): SparkSession = session(cpus, cpus)

  /** `v` with `decimals` places and a '.' separator whatever the JVM's
    * default locale: a comma would make the printed JSON invalid.
    */
  def num(v: Double, decimals: Int): String =
    String.format(Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** JSON string literal. Backslash, quote and every control char
    * (< 0x20) are escaped: a tab or CR in builder-authored SQL would
    * otherwise make the reader's json.load fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
}

/** Scratch dirs of this JVM, named `<prefix>pid<pid>_<random>` under
  * `target/` when the working dir has one, else under the system temp
  * dir.
  *
  * A dir is deleted by whoever knows its last reader is done: [[using]]
  * when the work is eager, [[delete]] by hand, or, for an index behind a
  * lazy DataFrame that any thread may still scan (ivfTopK, ivfPqTopK),
  * the JVM-exit hook registered when this object initialises. A JVM
  * killed before its hook runs leaves its dirs behind; the next JVM to
  * initialise this object removes every dir whose owner pid is no longer
  * alive, and never touches the dirs of a live one. Pids are compared
  * within this host's pid namespace, so JVMs that share one `target/`
  * must also share that namespace.
  */
object TempDirs {
  private val pid = ProcessHandle.current().pid()
  private val OwnedName = """[a-z_]+_pid(\d+)_\d+""".r
  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  val root: Path = {
    val target = Paths.get("target")
    if (Files.isDirectory(target)) target
    else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  Runtime.getRuntime.addShutdownHook(new Thread(
    () => owned.forEach(p => deleteTree(p.toFile)), "graft-tempdirs-cleanup"))
  sweepStale(root)

  /** A new dir, deleted at JVM exit unless [[delete]]d sooner.
    * `prefix` is lower-case letters and underscores, ending in '_'.
    */
  def create(prefix: String): Path = {
    require(prefix.matches("[a-z_]+_"), s"bad temp dir prefix: $prefix")
    val p = Files.createTempDirectory(root, s"${prefix}pid${pid}_")
    owned.add(p)
    p
  }

  def delete(p: Path): Unit = {
    deleteTree(p.toFile)
    owned.remove(p): Unit
  }

  /** `body` over a new dir that is deleted when `body` returns or throws. */
  def using[T](prefix: String)(body: Path => T): T = {
    val p = create(prefix)
    try body(p) finally delete(p)
  }

  /** Removes `f` and everything under it, best effort. A symlink is
    * removed, never followed.
    */
  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Deletes the dirs under `dir` whose owner pid is no longer alive. */
  private[graft] def sweepStale(dir: Path): Unit =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      f.getName match {
        case OwnedName(owner) if f.isDirectory && !Files.isSymbolicLink(f.toPath) &&
            owner.toLongOption.exists(p => !ProcessHandle.of(p).filter(_.isAlive).isPresent) =>
          deleteTree(f)
        case _ => ()
      }
    }
}
