package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The tail rule: the highest percentile that still has at least ten
    * samples beyond it, i.e. the 11th-largest sample. Returns the sample
    * and its percentile. Below 21 samples that percentile would not lie
    * above the median, so the maximum is reported with percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    if (s.size <= 20) (s.last, 100.0)
    else {
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size)
    }
  }
}

/** Outcome of one op: its seconds when it completed, else the failure. */
final case class OpResult(name: String, secs: Option[Double], error: Option[String])

object Runner {
  /** Times one op. An op that throws is a failure and never a time: a
    * crash must not read as a fast op.
    */
  def timeOp(name: String)(body: => Unit): OpResult = {
    val t0 = System.nanoTime()
    try {
      body
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[op] $name $secs%.3f")
      OpResult(name, Some(secs), None)
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] op $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
        OpResult(name, None, Some(s"${t.getClass.getSimpleName}: ${t.getMessage}"))
    }
  }

  /** Consumes a query result through the `noop` sink: every output column
    * and the final ordering are computed, and no rows are collected.
    * (`count()` lets the optimizer drop the final sort and prune the scan.)
    */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Fingerprint {
  /** Row count plus an order-insensitive hash of the rows. Doubles are
    * rounded to 9 significant digits so that summation order cannot flip
    * the hash.
    */
  def of(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    var acc = 0L
    rows.foreach { r => acc += rowHash(r) }
    (rows.length.toLong, f"$acc%016x")
  }

  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }
      .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case other => other.toString
  }

  private def rowHash(r: Row): Long = {
    val bytes = norm(r).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    java.nio.ByteBuffer.wrap(md).getLong
  }
}
