package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import scala.jdk.CollectionConverters._

/** What one workload does. `setup` counts toward `setup_s`; `round` is one
  * pass over the fixed op set, every op timed through the recorder, and a
  * run makes at least `minRounds` of them; `check` runs after the timed
  * loop and fails the ops whose output is wrong. */
trait Workload {
  def setup(spark: SparkSession, rec: Recorder): Unit
  def round(spark: SparkSession, rec: Recorder, r: Int): Unit
  def check(spark: SparkSession, rec: Recorder): Unit
  def minRounds: Int = 1
  /** Extra fields for the result file (where the query outputs are). */
  def report: Map[String, Any] = Map.empty
}

object Util {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** (file count, bytes) under `p`, 0 when absent. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally w.close()
    }

  /** Data files only (no `_SUCCESS`, checksums or hidden files). */
  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toLong
      finally w.close()
    }

  /** Entries of a directory, sorted by name. */
  def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  def subdirs(p: Path): Seq[Path] = list(p).filter(Files.isDirectory(_))

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally w.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { f =>
      val dest = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dest)
      else Files.copy(f, dest, StandardCopyOption.REPLACE_EXISTING)
    }
    finally w.close()
  }

  /** Order-independent content hash: row count plus the sum of per-row
    * hashes over the columns sorted by name, doubles rounded to 6 places. */
  def canonHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map { c =>
      val v = df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(c).cast("double"), 6).cast("string")
        case _ => col(c).cast("string")
      }
      coalesce(v, lit("\u0000"))
    }
    val r = df.select(xxhash64(concat_ws("\u0001", cols.toIndexedSeq: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** Queries from the engine's registry, run to the noop sink in a
  * seed-shuffled order after one untimed warm-up pass, each round in a
  * fresh session so shared stages and index builds start cold as they do
  * in a new pipeline run. A cold-JVM round of these short queries spends
  * about half its time in JIT and codegen, which swings from run to run;
  * warm rounds, three or more, with their median reported, measure the
  * queries. After
  * the timed loop an untimed pass, in a fresh session of its own so it
  * takes the same path, writes each result to parquet for the oracle check
  * run.py runs once the JVM has exited. */
class QueryWorkload(inputs: String, work: String, seed: Long, names: Seq[String])
    extends Workload {

  private val registry = graft.Queries.all
  private val outDir = Paths.get(work, "query_out")

  /** A fresh session has no shared stages or index paths of its own;
    * clearing the cache keeps a plan-equal persist of an earlier round from
    * serving this one. */
  private def newRoundSession(spark: SparkSession): SparkSession = {
    spark.catalog.clearCache()
    spark.newSession()
  }

  /** One pass: shared index builds before their first consumer (charged to
    * the `build` kind, as the engine's bench does), then the query. */
  private def pass(s: SparkSession, rec: Recorder, order: Seq[String],
      sink: (String, DataFrame) => Unit): Unit = {
    val seen = scala.collection.mutable.Set.empty[String]
    order.foreach { name =>
      val stages = graft.Queries.sharedStages.getOrElse(name, Nil)
      stages.filter(st => graft.Queries.indexBuilds.contains(st) && !seen(st)).foreach { st =>
        rec.op("build", st) {
          rec.layer(s"queries.build.$st")(graft.Queries.indexBuilds(st)(s, inputs))
        }
        seen += st
      }
      val warm = stages.nonEmpty && stages.forall(seen)
      val ok = rec.op("query", name) {
        val df = rec.layer("queries.call")(registry(name)(s, inputs))
        rec.layer(s"queries.exec.${Main.family(name)}")(sink(name, df))
      }
      if (stages.nonEmpty) {
        rec.count("queries.shared_consumers", 1)
        if (warm) rec.count("queries.shared_hits", 1)
      }
      if (ok) seen ++= stages
    }
  }

  def setup(spark: SparkSession, rec: Recorder): Unit = {
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    pass(newRoundSession(spark), new Recorder(tracing = false), names, (_, df) => Util.noop(df))
  }

  override def minRounds: Int = 3

  def round(spark: SparkSession, rec: Recorder, r: Int): Unit =
    pass(newRoundSession(spark), rec, new scala.util.Random(seed * 1000 + r).shuffle(names),
      (_, df) => Util.noop(df))

  /** Writes the outputs; comparing them needs DuckDB, which run.py runs. */
  def check(spark: SparkSession, rec: Recorder): Unit =
    pass(newRoundSession(spark), new Recorder(tracing = false), names.sorted, (name, df) =>
      df.write.mode("overwrite").parquet(outDir.resolve(name).toString))

  override def report: Map[String, Any] = Map(
    "oracle_sql" -> names.map(n => n -> graft.Queries.oracles.getOrElse(n, "")).toMap,
    "query_out" -> outDir.toString)
}

/** The reference's own loop: metadata → warehouse writes → persistent
  * catalog → out-of-band partitions → refresh → schema update → staged job
  * → sink inference → teardown. */
class WarehouseWorkload(inputs: String, work: String) extends Workload {
  import graft.catalog.GraftCatalog
  import graft.meta.{ColumnMeta, DatabaseMeta, MetaJson}
  import graft.run.{GraftJob, JobPackage}

  private val metaDir = s"$inputs/etl/meta_data/bench"
  private val jobDir = s"$inputs/etl/glue_jobs/bench_job"
  private val sourceDir = Paths.get(inputs, "source")
  private val added = Seq((2002, 1), (2002, 2), (2002, 3))
  private val failures = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
  private var sourceBytes = 0L

  def setup(spark: SparkSession, rec: Recorder): Unit = {
    spark.read.parquet(sourceDir.resolve("employees.parquet").toString)
      .createOrReplaceTempView("emp")
    spark.read.parquet(sourceDir.resolve("teams.parquet").toString)
      .createOrReplaceTempView("team")
    sourceBytes = Util.du(sourceDir)._2
  }

  def round(spark: SparkSession, rec: Recorder, r: Int): Unit = {
    def fail(opId: Int, why: String): Unit = failures += ((opId, why))
    def lastOp: Int = rec.ops.size - 1
    val wh = s"$work/warehouse/r$r"
    val stage = s"$work/stage"
    val sinks = s"$work/sinks/r$r"
    var db: DatabaseMeta = null
    rec.op("meta", "load_metadata") {
      val read = rec.layer("meta.read")(MetaJson.readDatabaseFolder(metaDir))
      db = rec.layer("meta.validate") {
        val v = read.validated
        v.checkColumnTypesAlign()
        v
      }
      rec.layer("types.schema")(db.tables.foreach { t => t.fullSchema; t.glueColumns() })
      rec.count("meta.tables", db.tables.size)
    }
    if (db == null) return
    db.tables.foreach { t =>
      val path = db.tablePath(wh, t.name)
      rec.op("write", s"write_${t.name}") {
        val src = spark.read.parquet(sourceDir.resolve(s"${t.name}.parquet").toString)
          .select(t.columnNames.map(col): _*)
        rec.layer("catalog.write")(GraftCatalog.writeTable(src, t, path, "overwrite"))
      }
      val (_, bytes) = Util.du(Paths.get(path))
      rec.count("catalog.bytes_written", bytes)
      rec.count("catalog.files_written", Util.dataFiles(Paths.get(path)))
    }
    rec.op("ddl", "register") {
      rec.layer("catalog.register")(
        GraftCatalog.registerDatabasePersistent(spark, db, wh, deleteIfExists = true))
    }
    val regId = lastOp
    val expected = Seq("orders", "lineitem").map { name =>
      val root = Paths.get(db.tablePath(wh, name))
      val existing = Util.subdirs(root).flatMap(Util.subdirs)
      // out-of-band: copy the newest month's files into new month dirs
      val src = existing.maxBy(_.toString)
      added.foreach { case (y, m) =>
        Util.copyTree(src, root.resolve(s"year=$y").resolve(s"month=$m"))
      }
      name -> (existing.size + added.size)
    }.toMap
    rec.op("ddl", "refresh_partitions") {
      rec.layer("catalog.refresh_partitions") {
        expected.keys.toSeq.sorted.foreach(n => GraftCatalog.refreshPartitions(spark, db, n))
      }
    }
    val refreshId = lastOp
    expected.foreach { case (name, want) =>
      val got = spark.sql(s"SHOW PARTITIONS bench.$name").count()
      rec.count("catalog.partitions_found", got)
      rec.count("catalog.partitions_expected", want)
      if (got != want) fail(refreshId, s"$name: $got partitions, expected $want")
    }
    val tablesNow = spark.catalog.listTables("bench").collect()
      .filterNot(_.isTemporary).map(_.name).toSet
    if (tablesNow != db.tableNames.toSet) fail(regId, s"catalog holds $tablesNow")

    // schema change: a new nullable column on the parquet `part` table
    val db2 = db.copy(tables = db.tables.map { t =>
      if (t.name != "part") t else t.addColumn(ColumnMeta("p_comment", "character"))
    })
    rec.op("ddl", "update") {
      rec.layer("catalog.update")(
        GraftCatalog.updateDatabasePersistent(spark, db2, wh, updateTablesIfExist = true))
    }
    val updId = lastOp
    if (!spark.table("bench.part").columns.contains("p_comment"))
      fail(updId, "update did not replace the part definition")

    var results: Seq[GraftJob.JobResult] = Nil
    rec.op("job", "staged_job") {
      val pkg = new JobPackage(jobDir, stage, jobId = s"r$r")
      rec.layer("run.package")(pkg.syncToStage())
      results = rec.layer("run.job")(GraftJob.runStagedSql(spark, pkg, sinks))
      results.foreach {
        case GraftJob.JobSucceeded(_, _, sec) => rec.sample("run.job_query", sec * 1000)
        case other =>
          rec.count("run.jobs_failed", 1)
          throw new IllegalStateException(s"staged job failed: $other")
      }
    }
    val jobId = lastOp
    // sink check: every sink equals its SQL run directly
    val sqlFiles = Util.list(Paths.get(jobDir, "glue_resources")).filter(_.toString.endsWith(".sql"))
    sqlFiles.foreach { p =>
      val name = p.getFileName.toString.stripSuffix(".sql")
      val direct = Util.canonHash(spark.sql(Files.readString(p)))
      val sink = Util.canonHash(spark.read.parquet(s"$sinks/$name"))
      if (direct != sink) fail(jobId, s"sink $name $sink != direct $direct")
    }

    var inferred: Seq[graft.meta.TableMeta] = Nil
    rec.op("ddl", "infer_sinks") {
      inferred = rec.layer("run.infer_sinks")(GraftJob.inferSinkMetas(spark, sinks))
      rec.layer("catalog.infer") {
        GraftCatalog.schemaDiff(spark, db.table("part").fullSchema,
          spark.table("bench.part").schema).collect()
      }
    }
    val inferId = lastOp
    if (inferred.map(_.name).toSet != sqlFiles.map(_.getFileName.toString.stripSuffix(".sql")).toSet)
      fail(inferId, s"inferred ${inferred.map(_.name)}")

    val metaOut = s"$work/meta_out/r$r"
    val db3 = inferred.foldLeft(db2)((d, t) => d.addTable(t))
    rec.op("meta", "write_metadata") {
      rec.layer("meta.write")(MetaJson.writeDatabaseFolder(db3, metaOut))
    }
    val back = MetaJson.readDatabaseFolder(metaOut)
    val roundTrip = db3.tables.forall { t =>
      MetaJson.jsonEquals(MetaJson.tableToJson(t), MetaJson.tableToJson(back.table(t.name)))
    } && back.tables.size == db3.tables.size
    if (!roundTrip) fail(lastOp, "metadata JSON does not round-trip")

    rec.op("ddl", "unregister") {
      rec.layer("catalog.unregister")(GraftCatalog.unregisterDatabasePersistent(spark, db2))
    }
    if (spark.catalog.databaseExists("bench")) fail(lastOp, "database still registered")
    rec.op("ddl", "delete_data") {
      rec.layer("catalog.delete_data")(GraftCatalog.deleteData(db2, wh))
    }
    if (Util.du(Paths.get(db2.databasePath(wh)))._1 != 0) fail(lastOp, "data left behind")
    Util.rmTree(Paths.get(sinks))
    Util.rmTree(Paths.get(metaOut))
  }

  def check(spark: SparkSession, rec: Recorder): Unit = {
    failures.foreach { case (id, why) => rec.failOps(_.id == id, why) }
    rec.count("input_bytes", sourceBytes)
  }
}

/** Scheduled incremental ETL: each op lands one CDC batch and runs the
  * join→join→agg snowflake maintenance plus the change-log rollup, each
  * as one AvailableNow streaming run to termination. A round applies two
  * batches: the first pays the cold streaming start, the second shows the
  * steady fold, and their sum varies less from run to run than either. */
class CdcWorkload(inputs: String, work: String) extends Workload {
  import graft.operators.IncrementalAgg
  import graft.streaming.{AggMaintenance, JoinMaintenance}

  private val st = s"$work/cdc_state"
  private val cdcDir = s"$st/cdc"
  private val batches: Seq[Path] = Util.list(Paths.get(inputs, "batches"))
  private var landed = 0
  private val BatchesPerRound = 2
  private val aggKeys = Seq("c_mktsegment")
  private val aggMeasures = Seq("o_totalprice")
  private val abKey = struct(col("o_orderkey"), col("o_custkey")).as("__ab_key")
  private def dimB(s: SparkSession) = s.read.parquet(s"$inputs/dim_b")
  private def dimC(s: SparkSession) = s.read.parquet(s"$inputs/dim_c")

  def setup(spark: SparkSession, rec: Recorder): Unit = {
    import graft.operators.IncrementalJoin
    val a0 = spark.read.parquet(s"$inputs/base.parquet")
    val v1 = IncrementalJoin.joinState(a0, dimB(spark), Seq("o_custkey"))
    v1.write.mode("overwrite").parquet(s"$st/v1")
    IncrementalJoin.joinState(spark.read.parquet(s"$st/v1").select(abKey, col("*")),
      dimC(spark), Seq("c_mktsegment")).write.mode("overwrite").parquet(s"$st/v2")
    Files.createDirectories(Paths.get(cdcDir))
  }

  def round(spark: SparkSession, rec: Recorder, r: Int): Unit =
    (1 to BatchesPerRound).foreach(_ => apply(spark, rec))

  private def apply(spark: SparkSession, rec: Recorder): Unit = {
    require(landed < batches.size, s"all ${batches.size} CDC batches applied")
    val b = batches(landed)
    Files.copy(b, Paths.get(cdcDir, b.getFileName.toString))
    landed += 1
    val schema = Some(spark.read.parquet(b.toString).schema)
    rec.op("apply", s"batch_$landed") {
      rec.layer("streaming.snowflake") {
        JoinMaintenance.maintainSnowflakeView(spark, cdcDir, s"$inputs/dim_b",
          s"$inputs/dim_c", s"$st/v1", s"$st/v2", s"$st/chk_view",
          aKey = "o_orderkey", bKey = "o_custkey", cKey = "seg_id",
          joinKeysAB = Seq("o_custkey"), joinKeysC = Seq("c_mktsegment"),
          schema = schema, maxFilesPerTrigger = 1,
          aggStateDir = Some(s"$st/agg"), aggKeys = aggKeys,
          aggMeasures = aggMeasures).awaitTermination()
      }
      rec.layer("streaming.rollup") {
        AggMaintenance.maintainAggState(spark, cdcDir, s"$st/rollup", s"$st/chk_rollup",
          keys = Seq("op"), measures = Seq("o_totalprice"), schema = schema,
          maxFilesPerTrigger = 1).awaitTermination()
      }
    }
  }

  /** Final views and both aggregate states must equal a from-scratch
    * recompute over base + every landed batch. */
  def check(spark: SparkSession, rec: Recorder): Unit = {
    val log = spark.read.parquet(cdcDir).withColumn("__file", input_file_name())
    val w = org.apache.spark.sql.expressions.Window.partitionBy("o_orderkey")
      .orderBy(col("__file").desc)
    val last = log.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
    val base = spark.read.parquet(s"$inputs/base.parquet")
    val aFinal = base.join(last.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(last.filter(col("op") =!= "D").select(base.columns.toIndexedSeq.map(col): _*))
    val v1 = aFinal.join(dimB(spark), Seq("o_custkey"))
    val v2 = v1.join(dimC(spark), Seq("c_mktsegment"))
    def same(got: DataFrame, want: DataFrame): Boolean =
      Util.canonHash(got.select(want.columns.toIndexedSeq.map(col): _*)) == Util.canonHash(want)
    val problems = Seq(
      "v1" -> same(spark.read.parquet(s"$st/v1"), v1),
      "v2" -> same(spark.read.parquet(s"$st/v2").drop("__ab_key"), v2),
      "agg" -> same(spark.read.parquet(s"$st/agg").drop("_batch_id", "_batch_sig"),
        IncrementalAgg.state(v2, aggKeys, aggMeasures)),
      "rollup" -> same(spark.read.parquet(s"$st/rollup"),
        IncrementalAgg.state(spark.read.parquet(cdcDir), Seq("op"), Seq("o_totalprice")))
    ).collect { case (n, false) => n }
    if (problems.nonEmpty)
      rec.failOps(_.kind == "apply", s"differs from recompute: ${problems.mkString(", ")}")
    val stored = Seq("v1", "v2", "agg", "rollup", "chk_view", "chk_rollup")
      .map(d => Util.du(Paths.get(st, d))._2).sum
    rec.count("streaming.state_bytes", stored)
    rec.count("input_bytes", Util.du(Paths.get(s"$inputs/base.parquet"))._2 +
      Util.du(Paths.get(cdcDir))._2)
  }
}
