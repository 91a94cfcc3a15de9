package perfbench

import graft.etl.MoviesEtl
import graft.functions.Cleaning
import graft.operators.{CurationPipeline, DedupOps, Lineage}
import graft.operators.Lineage.LineageOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** One timed pass: its wall time, the timed units inside it (ratings
  * chunks, pipeline stages or query keys), and per-pass outputs the
  * correctness check compares.
  */
final case class Pass(runS: Double, units: Seq[(String, Double)],
                      outputs: Map[String, Any] = Map.empty)

/** A workload drives the program's public API. `pass` is the timed
  * unit, also run once untimed as the warm-up; `probes` (traced runs
  * only) times lazy prefixes and kernel calls; `check` reads the outputs
  * of the last pass, outside any timed region.
  */
trait Workload {
  def pass(spark: SparkSession, tr: Trace): Pass
  def probes(spark: SparkSession, tr: Trace): Map[String, Any] = Map.empty
  def check(spark: SparkSession): Map[String, Any]
}

object Harness {
  /** The fewest timed passes a run makes, however short `--seconds` is. */
  val MinPasses = 2

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](units: ArrayBuffer[(String, Double)], name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    units += name -> secs(t0)
    Memory.sample()
    r
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Frees cached frames and checkpoint blocks, as `graft.Bench` does
    * between keys, so one unit's storage never slows the next. `Bench`
    * also forces a collection there; the harness does not, because that
    * costs more than the budget allows and leaves the next unit to run
    * on a heap G1 has just shrunk.
    */
  def release(spark: SparkSession): Unit = {
    Memory.sample()
    spark.catalog.clearCache()
    Lineage.releaseAll(spark)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def statusKb(field: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = opts("work")
    val w: Workload = opts("workload") match {
      case "etl_movies" => new EtlMovies(opts, work)
      case "query_mix" => new QueryMix(opts, work)
      case other => sys.error(s"unknown workload $other")
    }
    val tr = new Trace
    val errors = ArrayBuffer.empty[String]
    def attempt[A](what: String)(body: => A): Option[A] = Try(body) match {
      case Success(a) => Some(a)
      case Failure(e) =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(2000)
        None
    }

    // Set-up: JVM launch to a ready session, then one untimed warm-up
    // pass on the real input, so the timed passes run JIT-compiled code.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit =
      phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(cores, work)
    val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    tr.sc = spark.sparkContext
    val warmT0 = System.nanoTime()
    attempt("warmup")(w.pass(spark, tr))
    val setupRows = Seq(Map("start_s" -> startS, "warmup_s" -> secs(warmT0)))
    release(spark)

    // Timed passes until `seconds` have gone by (and at least MinPasses).
    // A traced run makes twice as many, untraced and traced in the order
    // U T T U, so neither kind gets the warmer positions and the tracing
    // overhead is measured in one JVM; listeners exist only while a
    // traced pass runs.
    phase("setup")
    val jobs = new JobListener
    val progress = new ProgressListener
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinPasses * (if (traced) 2 else 1) || secs(t0) < seconds) {
      val tracedPass = traced && (i % 4 == 1 || i % 4 == 2)
      if (tracedPass) {
        spark.sparkContext.addSparkListener(jobs)
        spark.streams.addListener(progress)
        tr.enabled = true
      }
      val spanBefore = tr.spans.size
      Memory.start()
      val p = attempt(s"pass $i")(tr("pass")(w.pass(spark, tr)))
      val memory = Memory.end()
      if (tracedPass) {
        tr.enabled = false
        jobs.drain()
        spark.sparkContext.removeSparkListener(jobs)
        spark.streams.removeListener(progress)
      }
      release(spark)
      p.foreach { p =>
        passes += Map("idx" -> i, "traced" -> tracedPass, "run_s" -> p.runS,
          "span" -> (if (tracedPass) tr.spans.drop(spanBefore).find(_.name == "pass").map(_.id).getOrElse(-1) else -1),
          "units" -> p.units.map { case (n, s) => Seq(n, s) },
          "outputs" -> p.outputs, "memory" -> memory)
      }
      i += 1
    }
    val hwm = statusKb("VmHWM")
    phase("passes")

    val probes =
      if (!traced) Map.empty[String, Any]
      else {
        spark.sparkContext.addSparkListener(jobs)
        tr.enabled = true
        val r = attempt("probes")(w.probes(spark, tr)).getOrElse(Map.empty)
        tr.enabled = false
        jobs.drain()
        spark.sparkContext.removeSparkListener(jobs)
        release(spark)
        r
      }

    phase("probes")
    val check = attempt("check")(w.check(spark)).getOrElse(Map.empty)
    phase("check")
    spark.stop()

    val trace =
      if (!traced) Map.empty[String, Any]
      else Map(
        "spans" -> tr.spans.map(s => Seq(s.id, s.parent, s.name, (s.t1 - s.t0) / 1e9)),
        "jobs" -> jobs.jobs.map(j => Seq(j.id, j.span, j.stages)),
        "stages" -> jobs.stages.map { case (id, s) =>
          id.toString -> Map("tasks" -> s.tasks, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
            "spill_b" -> s.spillBytes, "shuffle_write_b" -> s.shuffleWriteBytes,
            "input_b" -> s.inputBytes, "output_b" -> s.outputBytes, "dur_ms" -> s.durMs)
        },
        "batches" -> progress.batches.map(b => Seq(b.id, b.rows, b.addBatchMs, b.triggerMs)),
        "probes" -> probes)
    val record = Map(
      "workload" -> opts("workload"), "cores" -> cores,
      "setups" -> setupRows, "passes" -> passes, "errors" -> errors,
      "vmhwm_kb" -> hwm, "phases_s" -> phases, "check" -> check, "trace" -> trace)
    Files.writeString(Paths.get(opts("out")),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
  }
}

/** The reference pipeline: extract/transform, the two-table load, then
  * the ratings appended through the chunked streaming load, one ratings
  * file per trigger.
  */
final class EtlMovies(opts: Map[String, String], work: String) extends Workload {
  import Harness._

  private val out = s"$work/etl_out"
  val ratingsSchema: StructType = StructType(Seq(
    StructField("userId", IntegerType), StructField("movieId", IntegerType),
    StructField("rating", DoubleType), StructField("timestamp", LongType)))

  def pass(spark: SparkSession, tr: Trace): Pass = {
    val dir = opts("input")
    deleteTree(out)
    val units = ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    val res = timed(units, "etl.plan") {
      tr("etl.extractTransformLoad")(MoviesEtl.extractTransformLoad(spark,
        s"$dir/wiki_movies.json", s"$dir/movies_metadata.csv", s"$dir/ratings"))
    }
    timed(units, "etl.load")(tr("etl.load")(MoviesEtl.load(res, out)))
    val chunkEnds = ArrayBuffer.empty[Long]
    val streamT0 = System.nanoTime()
    timed(units, "streaming.load")(tr("streaming.chunkedLoad") {
      val stream = spark.readStream.schema(ratingsSchema).option("header", true)
        .option("maxFilesPerTrigger", 1).csv(s"$dir/ratings")
        .withColumn("rated_at", Cleaning.fromUnixSeconds(col("timestamp")))
      val q = StreamingOps.chunkedLoad(stream, (batch, _) => {
        batch.write.mode("append").parquet(s"$out/ratings")
        chunkEnds.synchronized(chunkEnds += System.nanoTime())
      }, s"$out/ratings_checkpoint").start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    })
    val runS = secs(t0)
    val ends = streamT0 +: chunkEnds.toSeq
    val chunks = ends.zip(ends.tail).map { case (a, b) => "chunk" -> (b - a) / 1e9 }
    Pass(runS, units.toSeq ++ chunks)
  }

  /** Noop-sinked prefixes of the lazy pipeline: a stage's own time is its
    * prefix minus the prefix it reads.
    */
  override def probes(spark: SparkSession, tr: Trace): Map[String, Any] = {
    val dir = opts("input")
    def wiki = MoviesEtl.parseWikiColumns(MoviesEtl.dedupByImdbId(MoviesEtl.cleanMovies(
      MoviesEtl.filterMovieRecords(MoviesEtl.readWikiJson(spark, s"$dir/wiki_movies.json")))))
    def kaggle = MoviesEtl.cleanKaggle(MoviesEtl.readCsv(spark, s"$dir/movies_metadata.csv"))
    def ratings = MoviesEtl.readCsv(spark, s"$dir/ratings")
      .withColumn("rated_at", Cleaning.fromUnixSeconds(col("timestamp")))
    val prefixes = Seq[(String, Seq[String], () => DataFrame)](
      ("wiki", Nil, () => wiki),
      ("kaggle", Nil, () => kaggle),
      ("merge", Seq("wiki", "kaggle"), () => MoviesEtl.mergeMovies(wiki, kaggle)),
      ("ratings_read", Nil, () => ratings),
      ("ratings_pivot", Seq("ratings_read"), () => MoviesEtl.ratingCounts(ratings)))
    Map("prefixes" -> prefixes.map { case (name, inputs, df) =>
      // the second run is the steady one; the first pays planning caches
      val s = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); tr(s"prefix.$name")(noop(df())); secs(t0)
      }.min
      Map("name" -> name, "inputs" -> inputs, "s" -> s)
    })
  }

  def check(spark: SparkSession): Map[String, Any] = {
    val dir = opts("input")
    val wiki = MoviesEtl.readWikiJson(spark, s"$dir/wiki_movies.json")
    val filtered = MoviesEtl.filterMovieRecords(wiki)
    val deduped = MoviesEtl.dedupByImdbId(MoviesEtl.cleanMovies(filtered)).cache()
    val movies = spark.read.parquet(s"$out/movies")
    val withRatings = spark.read.parquet(s"$out/movies_with_ratings")
    val loaded = spark.read.parquet(s"$out/ratings")
    val ratingCols = EtlMovies.RatingValues.zipWithIndex.map { case (v, k) =>
      col(s"`rating_$v`").cast(LongType) * lit(EtlMovies.RatingPrimes(k))
    }
    val roundL = (c: String) => coalesce(round(col(c)).cast(LongType), lit(-1L))
    val movieFp = withRatings.select(pmod(
      col("kaggle_id").cast(LongType) * 1000003L +
        regexp_extract(col("imdb_id"), "tt(\\d{7})", 1).cast(LongType) * 8191L +
        roundL("budget") * 131L + roundL("runtime") * 127L + ratingCols.reduce(_ + _),
      lit(2147483647L)).as("h")).agg(sum("h")).head().getLong(0)
    val ratingsFp = loaded.select(pmod(
      col("userId").cast(LongType) * 1000003L + col("movieId").cast(LongType) * 8191L +
        (col("rating") * 2).cast(LongType) * 131L + col("timestamp"),
      lit(2147483647L)).as("h")).agg(sum("h")).head().getLong(0)
    // cells the parsers turned to null (zero for running time, whose
    // parser falls back to 0) out of the non-null raw cells
    val parsers = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column, Boolean)](
      ("Box office", Cleaning.parseMoneyColumn, false), ("Budget", Cleaning.parseMoneyColumn, false),
      ("Release date", Cleaning.parseReleaseDate, false), ("Running time", Cleaning.parseRunningTime, true))
      .filter(p => deduped.columns.contains(p._1))
    val parseAgg = deduped.agg(
      parsers.map(p => count(col(s"`${p._1}`"))).reduce(_ + _).as("raw"),
      parsers.map { case (c, f, zeroIsNull) =>
        val parsed = f(col(s"`$c`"))
        val bad = if (zeroIsNull) parsed.isNull || parsed === 0 else parsed.isNull
        count(when(col(s"`$c`").isNotNull && bad, lit(1)))
      }.reduce(_ + _).as("nulled")).head()
    val r = Map(
      "rows_wiki_in" -> wiki.count(), "rows_after_filter" -> filtered.count(),
      "rows_after_dedup" -> deduped.count(), "rows_movies" -> movies.count(),
      "rows_with_ratings" -> withRatings.count(), "movies_fingerprint" -> movieFp,
      "ratings_loaded" -> loaded.count(), "ratings_fingerprint" -> ratingsFp,
      "parse_raw_cells" -> parseAgg.getLong(0), "parse_nulled_cells" -> parseAgg.getLong(1))
    deduped.unpersist()
    r
  }
}

object EtlMovies {
  /** The half-star pivot values `MoviesEtl.ratingCounts` names its columns by. */
  val RatingValues: Seq[String] =
    Seq("0.5", "1.0", "1.5", "2.0", "2.5", "3.0", "3.5", "4.0", "4.5", "5.0")

  /** Weights of the ten rating-count columns in the output fingerprint
    * (mirrored by the input generator's expected value).
    */
  val RatingPrimes: Seq[Long] = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)
}

/** The composed curation pipeline over a seed-chosen slice of the
  * documents table, built the way the declared `q_pipeline_curate` key
  * builds its input: a residue-class slice (mod 8 here, mod 4 there), a
  * disjoint held-out benchmark slice, and re-inserted exact duplicates
  * under shifted ids.
  */
final class CurateDocs(opts: Map[String, String]) {
  import Harness._

  def slices(spark: SparkSession): (DataFrame, DataFrame) = {
    val docs = graft.Tables.documents(spark, opts("sf"))
    val (r, b, e) = (opts("slice").toInt, opts("bench").toInt, opts("dups").toInt)
    val input = docs.filter(pmod(col("doc_id"), lit(8)) === r)
      .unionByName(docs.filter(pmod(col("doc_id"), lit(200)) === e)
        .withColumn("doc_id", col("doc_id") + lit(10000000L)))
    (input, docs.filter(pmod(col("doc_id"), lit(100)) === b))
  }

  /** Runs the stages; returns the per-stage times from the public
    * `onStage` callback and, counted after the stages finish, the rows
    * each stage kept.
    */
  def run(spark: SparkSession, tr: Trace): (Seq[(String, Double)], Map[String, Long]) = {
    val (input, bench) = slices(spark)
    val stageTimes = ArrayBuffer.empty[(String, Double)]
    val st = tr("curate.stages")(CurationPipeline.stages(input, bench,
      onStage = (name, s) => stageTimes += name -> s))
    val frames = Seq("input" -> st.input, "exact_dedup" -> st.afterExactDedup,
      "neardup_canonical" -> st.afterNearDup, "decontaminate" -> st.afterDecontaminate,
      "quality_filter" -> st.afterQuality, "dsir_select" -> st.afterDsir, "pack" -> st.packedBins)
    (stageTimes.toSeq, frames.map { case (n, df) => n -> df.count() }.toMap)
  }

  /** The near-dup kernels on the exact-deduplicated input, as lazy
    * prefixes: signatures, then verified LSH pairs, then components.
    */
  def probes(spark: SparkSession, tr: Trace): Map[String, Any] = {
    val (input, _) = slices(spark)
    val keep = DedupOps.exactDedup(input).select(col("keep_doc_id").as("doc_id"))
    val d1 = input.select("doc_id", "text", "lang", "source", "n_chars")
      .join(keep, Seq("doc_id"), "left_semi").lineageTruncate()
    def pairs = DedupOps.lshVerifiedJaccardPairsUnsorted(d1, 32, 2, 80).select("a_id", "b_id")
    val prefixes = Seq[(String, Seq[String], () => DataFrame)](
      ("signatures", Nil, () => DedupOps.minHashSignatures(d1, 32)),
      ("lsh_pairs", Seq("signatures"), () => pairs),
      ("cc", Seq("lsh_pairs"), () => DedupOps.connectedComponents(pairs)))
    val timedPrefixes = prefixes.map { case (name, inputs, df) =>
      val s = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); tr(s"prefix.$name")(noop(df())); secs(t0)
      }.min
      Map("name" -> name, "inputs" -> inputs, "s" -> s)
    }
    Map("prefixes" -> timedPrefixes,
      "candidate_pairs" -> DedupOps.minHashCandidatesUnsorted(d1, 32, 2).count(),
      "verified_pairs" -> pairs.count())
  }
}

/** Headline keys and the curation pipeline (the unit named
  * `curate_docs`), closed loop in a seed-shuffled order, with
  * `graft.Bench`'s cache and checkpoint hygiene between units. Each
  * key's row count and the pipeline's row funnel are recorded per pass;
  * the check writes a few keys' results for the oracle comparison.
  */
final class QueryMix(opts: Map[String, String], work: String) extends Workload {
  import Harness._

  private val units = opts("keys").split(",").toSeq
  private val keys = units.filter(_ != QueryMix.CurateUnit)
  private val queries = graft.SparkEntry.queries
  private val curate = new CurateDocs(opts)

  def pass(spark: SparkSession, tr: Trace): Pass = {
    val times = ArrayBuffer.empty[(String, Double)]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    var stages: Seq[(String, Double)] = Nil
    var rows: Map[String, Long] = Map.empty
    units.foreach { k =>
      val t0 = System.nanoTime()
      if (k == QueryMix.CurateUnit) {
        val (st, r) = curate.run(spark, tr)
        // the row counts after the stages are the check's, not the unit's
        times += k -> st.map(_._2).sum
        stages = st
        rows = r
      } else {
        counts(k) = tr(s"query.$k") {
          val df = tr("query.build")(queries(k)(spark, opts("sf")))
          tr("query.action")(df.count())
        }
        times += k -> secs(t0)
      }
      release(spark)
    }
    Pass(times.map(_._2).sum, times.toSeq,
      Map("counts" -> counts.toMap, "stages" -> stages.toMap, "rows" -> rows))
  }

  override def probes(spark: SparkSession, tr: Trace): Map[String, Any] =
    if (units.contains(QueryMix.CurateUnit)) curate.probes(spark, tr) else Map.empty

  def check(spark: SparkSession): Map[String, Any] = {
    val dir = s"$work/query_results"
    deleteTree(dir)
    val checked = opts("checked").split(",").toSeq
    checked.foreach { k =>
      queries(k)(spark, opts("sf")).write.parquet(s"$dir/$k")
      release(spark)
    }
    Map("results" -> dir, "written" -> checked,
      "oracle_sql" -> keys.map(k => k -> graft.SparkEntry.oracleSql.get(k).orNull).toMap)
  }
}

object QueryMix { val CurateUnit = "curate_docs" }
