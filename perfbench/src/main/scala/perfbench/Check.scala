package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent result fingerprint: row count plus the sum of
  * per-row xxhash64 values folded into [0, 2^31). Two results with the
  * same rows in any order and partitioning get the same fingerprint. */
final case class Fp(rows: Long, hash: Long) {
  override def toString: String = s"$rows/$hash"
}

object Check {
  def fingerprint(df: DataFrame): Fp = {
    val h = pmod(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*),
      lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    Fp(r.getLong(0), r.getLong(1))
  }

  /** Expected fingerprints of the assign_derive operations. Their inputs
    * do not depend on the seed (the fixed synthetic image table), so the
    * values hold for every seed. After a deliberate change of output
    * semantics or input sizes, take the new values from the run's check
    * failures (`expected X, got Y`). */
  val expected: Map[String, Fp] = Map(
    "assign" -> Fp(37190L, 39916483706310L),
    "pip" -> Fp(32966L, 35470343354342L),
    "q_mutual_knn" -> Fp(1698L, 1817305933748L),
    "q_label_prop" -> Fp(8000L, 8607350642286L),
    "q_glcm_texture" -> Fp(8000L, 8692389285449L))
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples). With ten samples or fewer no such
    * percentile exists and the maximum is reported (percentile 100). */
  def tail(xs: collection.Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val i = if (n >= 11) n - 11 else n - 1
    (s(i), 100.0 * (i + 1) / n, n)
  }

  /** CPU seconds the hypervisor has withheld from this machine since boot,
    * over all CPUs (the `steal` column of Linux `/proc/stat`), or 0 where
    * that is not available. Reported only, to explain slow runs. */
  def stealS: Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) 0.0
    else scala.util.Using.resource(scala.io.Source.fromFile(f)) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("cpu ") => l.trim.split("\\s+")
      }.filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
    }
  }

  /** Peak resident set of this JVM in MB (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    val kb =
      if (!f.exists()) None
      else scala.util.Using.resource(scala.io.Source.fromFile(f)) { src =>
        src.getLines().collectFirst {
          case l if l.startsWith("VmHWM:") =>
            l.split("\\s+")(1).toDouble
        }
      }
    kb.map(_ / 1024.0).getOrElse {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
  }
}
