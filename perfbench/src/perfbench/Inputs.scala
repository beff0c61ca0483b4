package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Spark-side generators' randomness: a pure function of
  * (seed, the row's `id`, a per-use tag), so a seed gives the same rows
  * in any partitioning.
  */
object Seeded {
  /** Uniform in [0, 1), in steps of 1e-6. */
  def uniform(seed: Long, tag: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(tag)), lit(1000000L)) / 1e6

  /** Uniform integer in [0, n). */
  def below(seed: Long, tag: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(tag)), lit(n))
}

/** Checksums of generated inputs, recorded with every result so that
  * two runs of one seed can be shown to have seen identical inputs.
  */
object Inputs {

  private def sha(f: java.security.MessageDigest => Unit): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    f(md)
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def corpus(c: CurateWorkload.Corpus): String = sha { md =>
    c.docs.foreach { case (id, t) =>
      md.update(s"$id\t$t\n".getBytes("UTF-8"))
    }
  }

  def vectors(rows: Seq[(Long, Array[Double])]): String = sha { md =>
    val b = java.nio.ByteBuffer.allocate(8)
    rows.foreach { case (id, v) =>
      (id +: v.map(java.lang.Double.doubleToLongBits).toSeq).foreach { x =>
        b.clear(); b.putLong(x); md.update(b.array())
      }
    }
  }

  /** Row count and the sum of per-row hashes over every column: the
    * same for the same rows in any partitioning.
    */
  def frame(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }
}
