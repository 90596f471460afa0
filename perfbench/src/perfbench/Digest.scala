package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries
import graft.operators.Checkpoints

/** Order-independent digest of a query result: the row count plus the sum
  * (as a decimal) and xor of every row's 64-bit hash. A row's hash is
  * `xxhash64` of the row rendered as JSON, so every column type hashes. */
final case class Digest(rows: Long, sum: String, xor: String, tables: Seq[String] = Nil) {
  def matches(got: Digest): Boolean = rows == got.rows && sum == got.sum && xor == got.xor
  override def toString: String = s"$rows/$sum/$xor"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    Digest(r.getLong(0), String.valueOf(Option(r.get(1)).getOrElse(0)),
      String.valueOf(Option(r.get(2)).getOrElse(0)))
  }
}

/** The committed expected digests, `perfbench/expected.tsv`: one line per
  * (scale factor, query) with rows, sum, xor and the tables it scans. */
object Digests {
  def load(path: Path): Map[(String, String), Digest] =
    Files.readAllLines(path).asScala.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(sf, q, rows, sum, xor, tables) = l.split("\t", -1)
      (sf, q) -> Digest(rows.toLong, sum, xor, tables.split(",").filter(_.nonEmpty).toSeq)
    }.toMap

  /** Prints each query's expected.tsv line, and unless `dumpDir` is `-`
    * writes its output and the oracle SQL for `dev/check.py`. */
  def expect(spark: SparkSession, sf: String, dir: String, dumpDir: String, names: Seq[String]): Unit = {
    val probe = new Probe(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    names.foreach { name =>
      val t0 = System.nanoTime()
      val d = probe.charged(name)(Digest.of(Queries.all(name)(spark, dir)))
      System.err.println(f"perfbench: $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      val tables = probe.take(Seq(name)).head.tables.toSeq
      println(Seq(sf, name, d.rows, d.sum, d.xor, tables.mkString(",")).mkString("\t"))
      Checkpoints.release(spark)
      if (dumpDir != "-") {
        Queries.all(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name")
        Checkpoints.release(spark)
      }
    }
    if (dumpDir != "-") Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), Main.json(
      Queries.oracles.filter { case (k, _) => names.contains(k) }))
  }
}
