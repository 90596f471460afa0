package perfbench

/** The benchmark's workloads. Why each exists, what it contains and how its
  * warm-up count was measured is recorded in `perfbench/WORKLOADS.md`. */
sealed trait Workload {
  def name: String
  /** Untimed no-op-sink passes after the cold and check passes. */
  def warmups: Int
}

/** Declared queries run one after another through the benchmark's sink. */
final case class QueryWorkload(name: String, sf: String, queries: Seq[String],
                               warmups: Int) extends Workload

/** The daily load: raw JSON per run date into partitioned Parquet. */
final case class EtlWorkload(name: String, spec: Etl.Spec, warmups: Int) extends Workload

object Workloads {
  val all: Seq[Workload] = Seq(
    QueryWorkload("board_sf001", "sf0.01", Seq(
      "q_abtest_chi2", "q_cohort_retention", "q_full_outer", "q_mann_kendall", "q_pmi_topk", "q_skyline", "q_winsorize", "q_kcore"), warmups = 2),
    EtlWorkload("etl_daily", Etl.Spec(
      Seq("2024-06-01", "2024-06-02"), artists = 400, albums = 4000, tracks = 20000),
      warmups = 2))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}
