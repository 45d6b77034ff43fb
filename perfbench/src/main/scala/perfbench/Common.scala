package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command line of one benchmark run. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean, outDir: String)

object Args {
  val Workloads: Seq[String] = Seq("trend_live", "corpus_dedup", "stream_rollup")

  def parse(argv: Seq[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    if (argv.length % 2 != 0) Left("arguments come in --name value pairs")
    else for {
      w <- need("workload").filterOrElse(Workloads.contains,
        s"--workload must be one of ${Workloads.mkString(", ")}")
      s <- need("seed").flatMap(_.toLongOption.toRight("--seed must be an integer"))
      n <- need("seconds").flatMap(_.toIntOption.filter(_ > 0)
        .toRight("--seconds must be a positive integer"))
      t <- need("trace").filterOrElse(Set("0", "1"), "--trace must be 0 or 1")
      o <- need("out")
    } yield Args(w, s, n, t == "1", o)
  }
}

/** The runtime every run uses: one local JVM, k = min(4, cores) task slots,
  * shuffle partitions = k, UI off, UTC. Scratch space stays under `work`. */
object Session {
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def create(work: String): SparkSession = {
    val k = cores
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Deterministic 64-bit mixing (SplitMix64 finaliser): every generated value
  * is a pure function of the seed and its coordinates, so a seed fixes the
  * inputs byte for byte regardless of generation order. */
object Mix {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(xs: Long*): Long = xs.foldLeft(0x6A09E667F3BCC909L)((h, x) => mix(h ^ x))
  /** Uniform in [0, n). */
  def below(n: Long, xs: Long*): Long = java.lang.Long.remainderUnsigned(apply(xs: _*), n)
  /** Uniform in [0, 1). */
  def unit(xs: Long*): Double = (apply(xs: _*) >>> 11) * (1.0 / (1L << 53))
}

/** Input digest: SHA-256 over everything the generator hands the program. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
  def add(x: Long): Unit = md.update(java.nio.ByteBuffer.allocate(8).putLong(x).array())
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Order-independent content hash of a frame: row count plus the sum of
  * Spark's xxhash64 over the named columns. Two frames with the same rows,
  * in any order and partitioning, hash the same. */
object FrameHash {
  def apply(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
        lit(BigDecimal(0)).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** The same hash computed off-Spark for rows of longs, so generator-side
    * expectations never pass through the code under test. Mirrors Spark's
    * xxhash64: seed 42, each column's hash seeds the next. */
  def rowHash(values: Array[Long]): Long = {
    var h = 42L
    var i = 0
    while (i < values.length) {
      h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(values(i), h)
      i += 1
    }
    h
  }

  /** Spark's xxhash64 over string columns (used by entity-id resolution). */
  def stringHash(values: Seq[String]): Long = values.foldLeft(42L) { (h, s) =>
    val b = s.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, h)
  }
}

/** Operation accounting shared by every workload: attempted and failed
  * counts, with the failure reasons kept for the report. An operation fails
  * when it throws or when its output check returns a reason. */
final class OpLog {
  var attempted = 0
  var failed = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def record(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    val reason =
      try check
      catch { case e: Exception => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    reason.foreach { r => failed += 1; failures += s"$what: $r" }
  }

  /** A failed whole-run check cannot be pinned on one operation, so it
    * fails every operation of the run. */
  def failAll(reason: String): Unit = {
    failed = attempted
    failures += s"final check: $reason"
  }
}

/** Disk usage of a directory tree, for bytes-per-row and write
  * amplification. Returns path -> (size, modification time) of every file. */
object Files {
  def listing(root: String): Map[String, (Long, Long)] = {
    val base = new java.io.File(root)
    if (!base.exists()) Map.empty
    else {
      val b = Map.newBuilder[String, (Long, Long)]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else b += f.getPath -> (f.length(), f.lastModified())
      walk(base)
      b.result()
    }
  }
  def bytes(root: String): Long = listing(root).valuesIterator.map(_._1).sum

  /** Bytes of files that are new or rewritten between two listings. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.iterator.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON rendering for the result line and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)
