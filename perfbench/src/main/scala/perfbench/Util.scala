package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the benchmark's output lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** Order statistics of a timing sample. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /**
   * The highest percentile in (99, 95, 90, 75, 50) with at least ten samples
   * beyond it, nearest-rank; with fewer than twenty samples no percentile
   * qualifies and the maximum is reported. Returns (value, percentile,
   * samples beyond it).
   */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val rank = math.ceil(p / 100 * n).toInt
      (p, rank, n - rank)
    }.find(_._3 >= 10) match {
      case Some((p, rank, beyond)) => (s(rank - 1), p, beyond)
      case None => (s.last, 100.0, 0)
    }
  }
}

/** On-disk shape of a partitioned parquet store. */
final case class StoreLayout(files: Map[String, Long]) {
  /** partition directory of each data file */
  private def partOf(f: String) = f.split('/').init.mkString("/")
  def partitions: Int = files.keys.map(partOf).toSet.size
  def fileCount: Int = files.size
  def bytes: Long = files.values.sum
  def filesPerPartition: Double = if (partitions == 0) 0.0 else fileCount.toDouble / partitions

  /** (files written, partitions touched) going from `before` to this. */
  def diff(before: StoreLayout): (Int, Int) = {
    val added = files.keySet -- before.files.keySet
    val removed = before.files.keySet -- files.keySet
    (added.size, (added ++ removed).map(partOf).size)
  }
}

object StoreLayout {
  /** Walks `dir`: every visible parquet data file with its size. */
  def walk(dir: String): StoreLayout = {
    val root = new File(dir).toPath
    if (!Files.exists(root)) StoreLayout(Map.empty)
    else {
      val stream = Files.walk(root)
      try StoreLayout(stream.iterator.asScala
        .filter(p => Files.isRegularFile(p) && isData(p))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap)
      finally stream.close()
    }
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet")
  }
}

object Files2 {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).foreach(_.foreach(c => copyTree(c, new File(to, c.getName))))
    } else Files.copy(from.toPath, to.toPath)
}
