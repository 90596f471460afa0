package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.{Queries, Sessions, Tables}
import graft.domain.{Schemas, SpotifyPipeline}
import graft.operators.Checkpoints
import graft.sources.JsonArtifacts

/** The benchmark's JVM side. `perfbench/run.py` builds it, starts it and
  * turns the raw record it prints into metrics.
  *
  *  - `gen <sf> <dir>`: write the harness tables at scale factor `sf`;
  *  - `setup`: start a session, print when it is ready, exit at once;
  *  - `run <workload> <seed> <seconds> <trace 0|1> <dataRoot> <workDir> <expected.tsv>`:
  *    one benchmark run; prints `PERFBENCH <json>`;
  *  - `expect <sf> <dataRoot> <cores> <dumpDir> <q1,q2,..>`: print each
  *    query's digest and scanned tables as TSV and dump its output as
  *    Parquet (plus `oracle_sql.json`) for `dev/check.py`. */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** Op latencies an untraced run collects at least: enough for p75 with
    * ten samples beyond it (`tail` in run.py). */
  val MinOpSamples = 40
  /** Traced and untraced passes a traced run makes at least, so that each
    * op's span cover compares medians of several samples. */
  val MinTracedPasses = 6

  def main(args: Array[String]): Unit = args.toList match {
    case List("gen", sf, dir) =>
      val spark = Sessions.local(cores.toString)
      TableGen.write(spark, sf.toDouble, dir)
      spark.stop()
    case List("setup") =>
      Sessions.local(cores.toString)
      println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
      System.out.flush()
      // Only the start is measured; skip the orderly stop.
      Runtime.getRuntime.halt(0)
    case List("run", workload, seed, seconds, trace, dataRoot, workDir, expected) =>
      val t0 = System.nanoTime()
      val spark = Sessions.local(cores.toString)
      val sessionS = (System.nanoTime() - t0) / 1e9
      println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
      val run = new Run(spark, Workloads(workload), seed.toLong, seconds.toDouble,
        trace == "1", dataRoot, Paths.get(workDir), Digests.load(Paths.get(expected)))
      val record = run.execute() + ("Sessions.local_s" -> sessionS)
      println("PERFBENCH " + json(record))
      spark.stop()
    case List("expect", sf, dataRoot, cpus, dumpDir, names) =>
      Digests.expect(Sessions.local(cpus), sf, s"$dataRoot/$sf", dumpDir, names.split(",").toSeq)
    case _ =>
      System.err.println("usage: see perfbench/src/perfbench/Main.scala")
      sys.exit(2)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Scala maps, sequences, options and scalars as one line of JSON. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** Peak resident set of this process, from `/proc/self/status`. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** One pass over a workload's ops. `lat` holds each op's seconds in op
  * order (NaN when it failed): the whole op in untraced passes, its
  * build + plan + execute spans in traced ones. `layers` holds the traced
  * per-layer totals. */
final case class Pass(kind: String, wall: Double, lat: Seq[Double], layers: Map[String, Double])

/** One benchmark run of one workload in one session. */
final class Run(spark: SparkSession, workload: Workload, seed: Long, seconds: Double,
                trace: Boolean, dataRoot: String, workDir: Path, expected: Map[(String, String), Digest]) {
  // SplittableRandom mixes the seed, so nearby seeds give unrelated orders.
  private val rnd = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val probe = if (trace) Some(new Probe(spark.sparkContext)) else None
  probe.foreach(spark.sparkContext.addSparkListener)

  private def now(): Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  /** Runs one op; a failure is recorded and yields NaN. */
  private def attempt(op: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch { case e: Throwable =>
      failures += s"$op: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"
      false
    }
  }

  // ------------------------------------------------------------ queries

  private def queryOps(w: QueryWorkload): Seq[String] = rnd.shuffle(w.queries)

  /** Executes the frame's own plan and discards its rows, as the noop sink
    * does. `df.write` would plan a new write command around the query, so
    * a traced op, which asks for `executedPlan` first, would plan twice. */
  private def sink(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench sink"))(qe.toRdd.foreach(_ => ()))
  }

  /** An untraced pass. In the cold pass each op's output digest is
    * checked right after the op, outside its timer and outside the
    * reported pass wall. */
  private def queryPass(w: QueryWorkload, ops: Seq[String], kind: String): Pass = {
    val dir = s"$dataRoot/${w.sf}"
    var unTimed = 0L
    val w0 = now()
    val lat = ops.map { op =>
      val t0 = now()
      val ok = attempt(op)(sink(Queries.all(op)(spark, dir)))
      val t1 = now()
      Checkpoints.release(spark)
      if (ok && kind == "cold") {
        val c0 = now()
        check(w, op)
        unTimed += now() - c0
      }
      if (ok) secs(t0, t1) else Double.NaN
    }
    Pass(kind, secs(w0, now() - unTimed), lat, Map.empty)
  }

  /** A traced pass: each op's calls into Tables, the query functions
    * (build), `executedPlan` (plan) and the sink (execute) are timed
    * and charged their own spans; between ops, the checkpoint blocks are
    * counted and released. In the first traced pass a planted op that runs
    * exactly three jobs sits between two ops, with no bus drain around it. */
  private def tracedQueryPass(w: QueryWorkload, ops: Seq[String], index: Int): Pass = {
    val p = probe.get
    val dir = s"$dataRoot/${w.sf}"
    val acc = new Layers
    val spanSums = mutable.ArrayBuffer.empty[Double]
    val w0 = now()
    ops.zipWithIndex.foreach { case (op, i) =>
      if (index == 0 && i == ops.size / 2) planted(p)
      val tag = s"$index/$i"
      val tables = expected.get((w.sf, op)).map(_.tables).getOrElse(Nil)
      val t0 = now()
      var t1, t2, t3, t3x, t4 = t0
      var initialExchanges = 0
      val ok = attempt(op) {
        p.charged(s"$tag/open")(tables.foreach(t => Tables.table(spark, dir, t)))
        t1 = now()
        val df = p.charged(s"$tag/build")(Queries.all(op)(spark, dir))
        t2 = now()
        val plan = p.charged(s"$tag/plan")(df.queryExecution.executedPlan)
        t3 = now()
        // Counted before execution: an adaptive plan then becomes the final one.
        initialExchanges = Probe.exchanges(plan)
        t3x = now()
        p.charged(s"$tag/execute")(sink(df))
        t4 = now()
      }
      val pinned = spark.sparkContext.getPersistentRDDs.size
      val r0 = now()
      Checkpoints.release(spark)
      val r1 = now()
      if (ok) {
        acc.add("Tables.open_s", secs(t0, t1))
        acc.add("Queries.build_s", secs(t1, t2))
        acc.add("plan_s", secs(t2, t3))
        acc.add("execute_s", secs(t3x, t4))
        acc.add("plan.exchanges", initialExchanges)
        acc.add("Checkpoints.pinned_rdds", pinned)
        acc.add("Checkpoints.release_s", secs(r0, r1))
        spanSums += secs(t1, t3) + secs(t3x, t4)
      } else spanSums += Double.NaN
    }
    val wall = secs(w0, now())
    val names = ops.indices.flatMap(i => Seq("open", "build", "plan", "execute").map(s => s"$index/$i/$s"))
    p.take(names).grouped(4).zip(spanSums).filter(!_._2.isNaN).foreach { case (Seq(open, build, _, exec), _) =>
      acc.add("Tables.open_jobs", open.jobs)
      acc.add("Queries.build_jobs", build.jobs)
      acc.add("Queries.build_tasks", build.tasks)
      acc.addExecute(exec)
    }
    if (index == 0) acc.add("trace.planted_jobs", p.take(Seq("planted")).head.jobs)
    acc.finish()
    Pass("traced", wall, spanSums.toSeq, acc.values)
  }

  /** Charges three single-job actions on a tiny frame to the `planted`
    * span; `run.py` fails the run unless exactly three are counted. */
  private def planted(p: Probe): Unit = p.charged("planted") {
    val rdd = spark.sparkContext.parallelize(1 to 8, 2)
    rdd.count(); rdd.collect(); rdd.reduce(_ + _)
  }

  /** Compares one op's output digest with the expected one. */
  private def check(w: QueryWorkload, op: String): Unit = {
    val want = expected.get((w.sf, op))
    try {
      val got = Digest.of(Queries.all(op)(spark, s"$dataRoot/${w.sf}"))
      if (!want.exists(_.matches(got)))
        failures += s"$op: digest $got != expected ${want.map(_.toString).getOrElse("none")}"
    } catch { case e: Throwable =>
      failures += s"$op check: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"
    }
    Checkpoints.release(spark)
  }

  // ---------------------------------------------------------------- ETL

  private lazy val etlRaw = workDir.resolve("raw")
  private lazy val etlOut = workDir.resolve("out").toString
  private var etlTruth: Etl.Truth = Map.empty
  private var etlInBytes = 0L

  private def etlOps(w: EtlWorkload): Seq[(String, String)] =
    w.spec.dates.flatMap(d => rnd.shuffle(Etl.Entities).map(d -> _))

  private def etlSources(date: String): (DataFrame, DataFrame, DataFrame) = {
    val day = etlRaw.resolve(date)
    (JsonArtifacts.readLines(spark, s"$day/artist.json", Schemas.rawArtist),
      JsonArtifacts.readLinesNumbered(spark, s"$day/album.json", Schemas.rawAlbum),
      JsonArtifacts.readLinesNumbered(spark, s"$day/track.json", Schemas.rawTrack))
  }

  private def entities(sources: (DataFrame, DataFrame, DataFrame)): Map[String, DataFrame] =
    SpotifyPipeline.transform(sources._1, sources._2, sources._3, col("__fetch"))

  private def etlPass(ops: Seq[(String, String)], kind: String): Pass = {
    val w0 = now()
    var frames = Map.empty[String, DataFrame]
    val lat = ops.map { case (date, entity) =>
      if (entity == ops.find(_._1 == date).get._2) frames = entities(etlSources(date))
      val t0 = now()
      val ok = attempt(s"$date/$entity")(SpotifyPipeline.writeEntity(frames(entity), etlOut, entity, date))
      if (ok) secs(t0, now()) else Double.NaN
    }
    Pass(kind, secs(w0, now()), lat, Map.empty)
  }

  private def tracedEtlPass(ops: Seq[(String, String)], index: Int): Pass = {
    val p = probe.get
    val acc = new Layers
    val spanSums = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[String]
    var frames = Map.empty[String, DataFrame]
    val w0 = now()
    ops.zipWithIndex.foreach { case ((date, entity), i) =>
      if (index == 0 && i == ops.size / 2) planted(p)
      if (entity == ops.find(_._1 == date).get._2) {
        val r0 = now()
        val sources = p.charged(s"$index/$date/read")(etlSources(date))
        val r1 = now()
        frames = p.charged(s"$index/$date/transform")(entities(sources))
        acc.add("JsonArtifacts.read_s", secs(r0, r1))
        acc.add("SpotifyPipeline.transform_s", secs(r1, now()))
        spans ++= Seq(s"$index/$date/read", s"$index/$date/transform")
      }
      // writeEntity plans its own write command, so this planning is
      // repeated inside the op; it is timed before the op, not as part of it.
      val tag = s"$index/$i"
      val p0 = now()
      var p1, t1 = p0
      var initialExchanges = 0
      val ok = attempt(s"$date/$entity") {
        initialExchanges = Probe.exchanges(p.charged(s"$tag/plan")(frames(entity).queryExecution.executedPlan))
        p1 = now()
        p.charged(s"$tag/execute")(SpotifyPipeline.writeEntity(frames(entity), etlOut, entity, date))
        t1 = now()
      }
      spans ++= Seq(s"$tag/plan", s"$tag/execute")
      if (ok) {
        acc.add("plan_s", secs(p0, p1))
        acc.add("execute_s", secs(p1, t1))
        acc.add("SpotifyPipeline.write_s", secs(p1, t1))
        acc.add("plan.exchanges", initialExchanges)
        val (files, bytes) = partitionFiles(entity, date)
        acc.add("SpotifyPipeline.write_files", files)
        acc.add("SpotifyPipeline.write_bytes", bytes)
        spanSums += secs(p1, t1)
      } else spanSums += Double.NaN
    }
    val wall = secs(w0, now())
    spans.zip(p.take(spans.toSeq)).foreach { case (name, c) =>
      if (name.endsWith("/read")) acc.add("JsonArtifacts.read_jobs", c.jobs)
      else if (name.endsWith("/execute")) {
        acc.addExecute(c)
        acc.add("SpotifyPipeline.write_jobs", c.jobs)
      }
    }
    if (index == 0) acc.add("trace.planted_jobs", p.take(Seq("planted")).head.jobs)
    acc.finish()
    Pass("traced", wall, spanSums.toSeq, acc.values)
  }

  /** Parquet data files and their bytes in one entity's date partition. */
  private def partitionFiles(entity: String, date: String): (Long, Long) = {
    val dir = Paths.get(etlOut, entity, s"ingest_date=$date")
    if (!Files.isDirectory(dir)) return (0L, 0L)
    val files = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Reads every loaded partition back and compares it, as a multiset of
    * rows, with the generator's ground truth. */
  private def checkEtl(w: EtlWorkload): Unit = {
    val schemas = Map("artist" -> Schemas.artist, "album" -> Schemas.album,
      "album_artists" -> Schemas.albumArtists, "track" -> Schemas.track,
      "track_artists" -> Schemas.trackArtists)
    for (date <- w.spec.dates; entity <- Etl.Entities) {
      val cols = schemas(entity).fieldNames.map(col).toSeq
      val got = spark.read.parquet(s"$etlOut/$entity")
        .where(col("ingest_date").cast("string") === date).select(cols: _*)
        .collect().map(r => Etl.render(r.toSeq)).sorted.toSeq
      val want = etlTruth((date, entity)).sorted
      if (got != want) failures += s"$date/$entity: ${got.size} rows loaded, " +
        s"${want.size} expected, ${got.diff(want).size} unexpected"
    }
  }

  // ---------------------------------------------------------------- run

  def execute(): Map[String, Any] = {
    val (opNames, pass, traced): (Seq[String], String => Pass, Int => Pass) = workload match {
      case w: QueryWorkload =>
        val ops = queryOps(w)
        (ops, kind => queryPass(w, ops, kind), i => tracedQueryPass(w, ops, i))
      case w: EtlWorkload =>
        val (truth, bytes) = Etl.generate(w.spec, seed, etlRaw)
        etlTruth = truth
        etlInBytes = bytes
        val ops = etlOps(w)
        (ops.map { case (d, e) => s"$d/$e" }, kind => etlPass(ops, kind), i => tracedEtlPass(ops, i))
    }
    val passes = mutable.ArrayBuffer(pass("cold"))
    (1 to workload.warmups).foreach(_ => passes += pass("warmup"))
    // Timed passes until the budget is spent, and until an untraced run
    // holds enough op latencies for its tail percentile. Traced runs mix
    // untraced and traced passes in whole untraced-traced-traced-untraced
    // quads: passes still speed up after the warm-up, and this order gives
    // neither kind the later, faster passes.
    val m0 = now()
    if (trace) {
      var tracedN = 0
      while (secs(m0, now()) < seconds || tracedN < Main.MinTracedPasses)
        Seq(false, true, true, false).foreach { t =>
          if (t) { passes += traced(tracedN); tracedN += 1 } else passes += pass("timed")
        }
    } else {
      val minTimed = math.max(2, (Main.MinOpSamples + opNames.size - 1) / opNames.size)
      var timed = 0
      while (secs(m0, now()) < seconds || timed < minTimed) { passes += pass("timed"); timed += 1 }
    }
    val outBytes = workload match {
      case w: EtlWorkload =>
        checkEtl(w)
        w.spec.dates.flatMap(d => Etl.Entities.map(e => partitionFiles(e, d)._2)).sum
      case _ => 0L
    }
    Map(
      "workload" -> workload.name, "seed" -> seed, "trace" -> trace, "cores" -> Main.cores,
      "ops" -> opNames, "warmups" -> workload.warmups,
      "passes" -> passes.map(p => Map("kind" -> p.kind, "wall" -> p.wall,
        "lat" -> p.lat.map(x => if (x.isNaN) None else Some(x)),
        "layers" -> p.layers)).toSeq,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "peak_rss_mb" -> Main.peakRssMb(), "in_bytes" -> etlInBytes, "out_bytes" -> outBytes,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024))
  }

  /** Per-layer totals of one traced pass. */
  private final class Layers {
    private val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    def addExecute(c: Counts): Unit = {
      add("execute.jobs", c.jobs)
      add("execute.stages", c.stages)
      add("execute.tasks", c.tasks)
      add("execute.task_run_s", c.taskRunMs / 1e3)
      add("execute.task_cpu_s", c.taskCpuNs / 1e9)
      add("execute.gc_s", c.gcMs / 1e3)
      add("execute.shuffle_write_bytes", c.shuffleWrite)
      add("execute.shuffle_read_bytes", c.shuffleRead)
      add("execute.spill_bytes", c.spill)
      m("execute.peak_exec_mem_bytes") = m.getOrElse("execute.peak_exec_mem_bytes", 0.0).max(c.peakExecMem)
      add("plan.final_exchanges", c.finalExchanges)
    }
    def finish(): Unit = {
      val exec = m.getOrElse("execute_s", 0.0)
      m("execute.core_fill") =
        if (exec > 0) m.getOrElse("execute.task_run_s", 0.0) / (Main.cores * exec) else 0.0
    }
    def values: Map[String, Double] = m.toMap
  }
}
