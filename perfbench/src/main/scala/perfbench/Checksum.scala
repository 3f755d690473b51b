package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-independent fingerprint of a query's full output.
  *
  * Non-floating columns are hashed exactly, per row; the row hashes are
  * summed, so row order does not matter. Floating columns are summed,
  * each value weighted by a factor in [1, 2) drawn from its row's exact
  * hash and its column index, which ties every value to its row. Two
  * outputs match when row count and hash are equal and the weighted sums
  * agree within a relative tolerance: floating sums computed in a
  * different order may differ in their last bits, exact equality would not.
  */
final case class Checksum(rows: Long, hash: Long, fsum: Double, fabs: Double) {
  def matches(e: Checksum): Boolean =
    rows == e.rows && hash == e.hash &&
      math.abs(fsum - e.fsum) <= Checksum.relTol * e.fabs + 1e-9

  def line(op: String): String =
    s"$op\t$rows\t$hash\t${java.lang.Double.toString(fsum)}\t" +
      java.lang.Double.toString(fabs)
}

object Checksum {
  val relTol = 1e-9

  def of(df: DataFrame): Checksum = {
    val fields = df.schema.fields
    val floating = fields.map(f => f.dataType == DoubleType || f.dataType == FloatType)
    var rows = 0L
    var hash = 0L
    var fsum = 0.0
    var fabs = 0.0
    df.collect().foreach { r =>
      rows += 1
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < fields.length) {
        if (r.isNullAt(i)) sb.append("\u0001null")
        else if (floating(i)) {
          val x = asDouble(r.get(i))
          sb.append(if (x.isNaN || x.isInfinite) x.toString else "\u0001f")
        } else sb.append(r.get(i).toString)
        sb.append('\u0002')
        i += 1
      }
      val s = sb.toString
      val h1 = MurmurHash3.stringHash(s, 0x5bd1e995)
      val h2 = MurmurHash3.stringHash(s, 0x1b873593)
      val rh = (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
      hash += rh
      i = 0
      while (i < fields.length) {
        if (floating(i) && !r.isNullAt(i)) {
          val x = asDouble(r.get(i))
          if (!x.isNaN && !x.isInfinite) {
            val w = 1.0 + ((mix(rh + i) >>> 40) & 0xffffffL) / 16777216.0
            fsum += x * w
            fabs += math.abs(x) * w
          }
        }
        i += 1
      }
    }
    Checksum(rows, hash, fsum, fabs)
  }

  private def asDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
  }

  private def mix(z0: Long): Long = {
    var z = z0 * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def read(path: String): Map[String, Checksum] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val p = l.split("\t")
      p(0) -> Checksum(p(1).toLong, p(2).toLong, p(3).toDouble, p(4).toDouble)
    }.toMap

  def write(path: String, sums: Seq[(String, Checksum)]): Unit =
    Files.write(Paths.get(path),
      sums.sortBy(_._1).map { case (op, c) => c.line(op) }.asJava)
}
