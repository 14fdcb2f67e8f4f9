package syncbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.delete.DeleteFlow
import graft.docs.IndexDocuments
import graft.graph.ConnectedComponents
import graft.model.{ColType, Tables, TableSpec}
import graft.pivot.SubjectPivot
import graft.sink.Upsert
import graft.source.QuadSource
import graft.text.CorpusPrep
import graft.view._

/** End-to-end sync benchmark.
  *
  * {{{
  * SyncBench --workload <sync|corpus_prep> --seed <n> --seconds <s>
  *           --trace <0|1> --work <dir> --artifacts <dir>
  * }}}
  *
  * Drives one workload closed-loop at `local[nproc]` from this process,
  * calling the engine's public layer functions in the reference DAG's
  * order, checks the outputs against the generator's closed-form
  * expectations, and prints one JSON result line last on stdout. With
  * `--trace 0` the line carries the end-to-end metrics; with `--trace 1`
  * the per-layer metrics of a traced run: a span and a Spark job group
  * around every layer call, each layer's output staged at its boundary.
  * A full artifact (session conf, sizes, spans, pass times, checks) is
  * written under `--artifacts`.
  *
  * `sync` is the reference's job: a nightly full rebuild from the KG
  * dump (source → view → sink → docs), timed as one pass, then `since`
  * batches on the rebuilt state (source → pivot → sink → docs → delete),
  * each timed from landing to readable. `corpus_prep` is the training
  * data path (text → dedup → graph) and runs no sync layer. Both start
  * cold, as the reference's flows start in a fresh process.
  */
object SyncBench {

  val Workloads = Seq("sync", "corpus_prep")
  val Layers = Seq("source", "view", "pivot", "sink", "docs", "delete", "text", "dedup", "graph")

  /** Input sizes per workload; BENCHMARK.json lists the resulting quad,
    * entity, batch and document counts. */
  val Sizes: Map[String, Size] = Map(
    "sync" -> Size(orgs = 20, entities = 400, things = 60, persons = 80,
      collections = 24, batches = 40, docs = 0),
    "corpus_prep" -> Size(orgs = 5, entities = 5, things = 5, persons = 5,
      collections = 6, batches = 0, docs = 400))

  /** Batches every untraced run processes at least: one that upserts
    * and deletes (see [[Gen.kind]]). */
  val MinBatches = 1
  /** Batches a traced run processes: a deleting and a small one. */
  val TracedBatches = 2

  /** One entity-view pass over every family the reference's four entity
    * queries cover (their types and mimes; the av license rule). */
  val AllFamilies: EntityPipeline.Config = {
    val all = Seq(EntityPipeline.avAudio, EntityPipeline.avVideo, EntityPipeline.avComplex,
      EntityPipeline.newspaper)
    EntityPipeline.avAudio.copy(name = "all-families",
      entityTypes = all.flatMap(_.entityTypes).distinct,
      mimeTypes = all.flatMap(_.mimeTypes).distinct)
  }

  /** The registry tables the sync maintains: the entity family the index
    * documents read. Representations and their file links are child
    * rows, replaced per entity and per representation. */
  val Registry: Seq[TableSpec] = Seq(Tables.organization, Tables.intellectualEntity,
    Tables.file, Tables.representation, Tables.includes)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, artifacts: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace is 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toDouble, trace == "1",
      new File(need("work")), new File(need("artifacts")))
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (result, ok) = new SyncBench(a, jvmStartMs).run()
    println(result)
    if (!ok) sys.exit(1)
  }

  /** Session with `graft.Bench`'s settings, sized to this machine. */
  def session(work: File, inputDir: File, cores: Int): SparkSession = {
    val local = new File(work, "spark-local"); local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("syncbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.run.Tuning.initialPartitions(inputDir.getPath).toString)
      .config("spark.memory.storageFraction", "0.2")
      .config("spark.graft.pipelineInput", "persist")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples). With eleven samples or fewer no
    * percentile has ten beyond it, and the maximum is reported. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** Spark type a registry column holds after coercion. */
  def sparkType(t: ColType): DataType = t match {
    case ColType.Str => StringType
    case ColType.Bool => BooleanType
    case ColType.DateT => DateType
    case ColType.TimestampT => TimestampType
    case ColType.IntT => IntegerType
    case ColType.DoubleT | ColType.DurationSeconds => DoubleType
    case ColType.DecimalT => DecimalType(5, 4)
  }

  /** A view's table as its registry table holds it: the registry's
    * columns in order, string values coerced at insert time the way the
    * pivot coerces them (the reference leaves this to Postgres). */
  def conform(df: DataFrame, spec: TableSpec): DataFrame =
    df.select(spec.cols.map { case (c, t) =>
      val v: Column =
        if (!df.columns.contains(c)) lit(null).cast(sparkType(t))
        else if (df.schema(c).dataType == sparkType(t)) col(c)
        else SubjectPivot.coerce(col(c).cast(StringType), t)
      v.as(c)
    }: _*)

  /** Row key columns of a table (by its base name) for the checks. */
  private val KeyCols: Map[String, Seq[String]] = Map(
    "graph.schema_mentions" -> Seq("intellectual_entity_id", "thing_id"),
    "graph.iiif" -> Seq("intellectual_entity_id", "iiif_id"),
    "docs" -> Seq("index", "id"))

  def keyCols(table: String, df: DataFrame): Seq[String] =
    KeyCols.getOrElse(table.substring(table.indexOf('/') + 1),
      if (df.columns.contains("id")) Seq("id") else df.columns.toSeq.filterNot(_ == Upsert.BucketCol))

  /** A table's row keys ([[Gen.key]] of its key columns) and its rows
    * (as [[rows]]), from one collect. */
  def snapshot(table: String, df: DataFrame): (Vector[String], Vector[String]) = {
    val cols = df.columns.filterNot(_ == Upsert.BucketCol).sorted
    val kc = keyCols(table, df)
    val rs = df.select(cols.map(col): _*).collect()
    (rs.map(r => Gen.key(kc.map(c => Option(r.get(r.fieldIndex(c))).map(_.toString).orNull): _*))
      .toVector.sorted, rs.map(_.toString).toVector.sorted)
  }

  /** Every row of `df` as a string, columns in name order, sorted. */
  def rows(df: DataFrame): Vector[String] = {
    val cols = df.columns.filterNot(_ == Upsert.BucketCol).sorted.map(col)
    df.select(cols: _*).collect().map(_.toString).toVector.sorted
  }
}

final class SyncBench(a: SyncBench.Args, jvmStartMs: Long) {
  import SyncBench._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val inputDir = new File(a.work, "inputs")
  private val outDir = new File(a.work, "out")
  private val size = Sizes(a.workload)
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private var spark: SparkSession = _
  private var trace: Trace = _
  private var traced = false

  private def log(msg: String): Unit =
    System.err.println(f"[syncbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.1f s] $msg")

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) log(s"CHECK FAILED $name: $detail")
  }

  private def checkKeys(name: String, got: Vector[String], want: Vector[String]): Unit =
    check(name, got == want, {
      val g = got.toSet; val w = want.toSet
      s"rows ${got.length} vs expected ${want.length}; missing ${(w -- g).take(3).mkString(", ")}; " +
        s"unexpected ${(g -- w).take(3).mkString(", ")}"
    })

  /** A layer call: in traced runs, a span and a job group. */
  private def layer[T](name: String)(body: => T): T =
    if (traced) trace.span(name, group = true)(body) else body

  /** A layer's output at its boundary: staged in traced runs, so lazy
    * work is charged to the layer that defines it. */
  private def boundary(name: String, df: DataFrame): DataFrame =
    if (!traced) df
    else {
      trace.expectStage(df.queryExecution.id, name)
      Upsert.stage(df)
    }

  private def read(path: String): DataFrame = spark.read.parquet(path).drop(Upsert.BucketCol)
  private def path(dir: File, table: String): String = new File(dir, table).getPath
  private def docsPath(dir: File): String = new File(dir, "docs").getPath
  private def tablesIn(dir: File): String => DataFrame = t => read(path(dir, t))

  // ---- sync ----------------------------------------------------------------

  /** The nightly rebuild: KG dump → every view → FK-ordered full merge of
    * the registry tables (and one table of each view the registry does
    * not cover) → index documents. */
  private def rebuild(kg: File, dir: File): Unit = {
    val quads = layer("source")(boundary("source", QuadSource.ntriples(spark, kg.getPath)))
    val tables: Seq[(TableSpec, DataFrame)] = layer("view") {
      val byTable = EntityPipeline(quads, AllFamilies) ++ OrganizationPipeline(quads)
      val registry = Registry.map(s => s -> conform(byTable(s.name), s))
      val extension = Seq(
        "person/graph.schema_mentions" -> PersonPipeline(quads)("graph.schema_mentions"),
        "collection/graph.collection" -> CollectionPipeline(quads)("graph.collection"),
        "iiif/graph.iiif" -> IiifPipeline(quads)).map { case (t, df) =>
        val cols = df.columns.toSeq.map(_ -> (ColType.Str: ColType))
        (if (df.columns.contains("id")) TableSpec(t, cols)
        else TableSpec(t, cols, pk = Nil, entityKey = Some(df.columns.head))) -> df
      }
      val out = (registry ++ extension).map { case (s, df) => s -> boundary("view", df) }
      if (traced) trace.viewCacheBytes = cachedBytes(quads)
      out
    }
    layer("sink") {
      val byName = tables.map { case (s, df) => s.name -> df }.toMap
      Tables.topoOrder(tables.map(_._1)).foreach { s =>
        Upsert.mergeAndWrite(spark, path(dir, s.name), byName(s.name), s, fullSync = true)
      }
    }
    layer("docs")(IndexDocuments.writePartitioned(docsInput(tablesIn(dir), None), docsPath(dir)))
    spark.catalog.clearCache()
  }

  /** The index-document builder's star input (root, children,
    * grandchildren, nation) read from the registry tables: an entity is
    * a root document in its maintainer organization's partition, its
    * files are the children and their inclusion links the grandchildren. */
  private def docsInput(table: String => DataFrame, orgIdents: Option[Seq[String]]): DataFrame = {
    val orgs = table("graph.organization")
      .select(col("id").as("schema_maintainer"), col("org_identifier"))
    val customer = table("graph.intellectual_entity").join(orgs, Seq("schema_maintainer"))
      .filter(orgIdents.map(ids => col("org_identifier").isin(ids: _*)).getOrElse(lit(true)))
      .select(col("id").as("c_custkey"), col("schema_name").as("c_name"),
        col("org_identifier").as("c_mktsegment"),
        pmod(xxhash64(col("id")), lit(25)).cast("int").as("c_nationkey"))
    val inc = table("graph.includes")
    val orders = table("graph.file")
      .join(inc.select(col("file_id").as("id"), col("representation_id")), Seq("id"))
      .join(table("graph.representation")
        .select(col("id").as("representation_id"), col("premis_represents")), Seq("representation_id"))
      .select(col("id").as("o_orderkey"), col("premis_represents").as("o_custkey"),
        date_add(to_date(lit("2020-01-01")),
          (coalesce(col("schema_duration"), lit(0.0)) % 365).cast("int")).as("o_orderdate"),
        col("ebucore_has_mime_type").as("o_orderpriority"),
        upper(substring(col("ebucore_has_mime_type"), 1, 1)).as("o_orderstatus"),
        col("schema_duration").as("o_totalprice"))
    val lineitem = inc.select(col("file_id").as("l_orderkey"), lit(1).as("l_linenumber"),
      col("representation_id").as("l_partkey"), lit("N").as("l_returnflag"),
      lit("O").as("l_linestatus"))
    IndexDocuments.build(customer, orders, lineitem, nation)
  }

  private lazy val nation: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 25).map(n => (n, s"NATION$n")).toDF("n_nationkey", "n_name")
  }

  private def cachedBytes(df: DataFrame): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.sizeInBytesStats.value.longValue).getOrElse(0L)

  /** Pivoted registry records of `quads`, without the record subject. */
  private def pivot(quads: DataFrame, specs: Seq[TableSpec]): Map[String, DataFrame] =
    SubjectPivot.pivotAll(quads, specs).map { case (t, df) => t -> df.drop("subject") }

  /** One `since` batch: parse → pivot → FK-ordered incremental merge →
    * delete flow → touched index partitions. The deletes run before the
    * documents, so one refresh covers the partitions of upserted and of
    * deleted entities. */
  private def batch(file: File, since: String, dir: File): Unit = {
    val quads = layer("source")(boundary("source", QuadSource.ntriples(spark, file.getPath)))
    // only tables the batch routes records to are staged and merged, as
    // the reference creates a temp table per table that received records
    val staged = layer("pivot") {
      val routed = quads.filter(col("predicate") === graft.model.Ns.TableName)
        .select("obj").distinct().collect().map(_.getString(0)).toSet
      pivot(quads, Registry.filter(s => routed(s.name)))
        .map { case (t, df) => t -> boundary("pivot", df) }
    }
    layer("sink") {
      Tables.topoOrder(Registry.filter(s => staged.contains(s.name))).foreach { s =>
        Upsert.mergeAndWrite(spark, path(dir, s.name), staged(s.name), s, fullSync = false)
      }
    }
    val (deadOrgs, emptied) = layer("delete") {
      val flags = boundary("delete", DeleteFlow.flagDeletes(quads, Some(since), Gen.EntityBase))
      val dead = flags.select("intellectual_entity_id").distinct().collect().map(_.getString(0)).toSeq
      if (dead.isEmpty) (Nil, Set.empty[String]) else applyDeletes(dir, flags, dead)
    }
    layer("docs") {
      val touched = staged.get("graph.intellectual_entity").toSeq.flatMap(
        _.select("schema_maintainer").distinct().collect().map(_.getString(0)))
      val idents = orgIdents(dir, (touched ++ deadOrgs).distinct).filterNot(emptied)
      if (idents.nonEmpty)
        IndexDocuments.overwriteTouchedPartitions(docsInput(tablesIn(dir), Some(idents)), docsPath(dir))
    }
    spark.catalog.clearCache()
  }

  private def orgIdents(dir: File, orgIris: Seq[String]): Seq[String] =
    if (orgIris.isEmpty) Nil
    else read(path(dir, "graph.organization")).filter(col("id").isin(orgIris: _*))
      .select("org_identifier").collect().map(_.getString(0)).toSeq.sorted

  /** Remove flagged entities and everything hanging off them from every
    * table and drop the index partitions left empty. Returns the dead
    * entities' organizations and the emptied partitions' identifiers. */
  private def applyDeletes(dir: File, flags: DataFrame,
                           dead: Seq[String]): (Seq[String], Set[String]) = {
    val ie = read(path(dir, "graph.intellectual_entity"))
    val deadOrgs = ie.filter(col("id").isin(dead: _*)).select("schema_maintainer").distinct()
      .collect().map(_.getString(0)).toSeq
    def children(t: String, key: String): DataFrame =
      DeleteFlow.applyDeletes(ie, read(path(dir, t)).withColumnRenamed(key, "intellectual_entity_id"),
        flags)._2.withColumnRenamed("intellectual_entity_id", key)
    val deadReps = read(path(dir, "graph.representation"))
      .filter(col("premis_represents").isin(dead: _*)).select(col("id").as("representation_id"))
    val inc = read(path(dir, "graph.includes"))
    val kept: Seq[(String, DataFrame)] = Seq(
      "graph.intellectual_entity" -> DeleteFlow.applyDeletes(ie, ie.limit(0)
        .select(col("id").as("intellectual_entity_id")), flags)._1,
      "graph.representation" -> children("graph.representation", "premis_represents"),
      "graph.includes" -> inc.join(deadReps, Seq("representation_id"), "left_anti"),
      "graph.file" -> read(path(dir, "graph.file")).join(
        inc.join(deadReps, Seq("representation_id")).select(col("file_id").as("id")),
        Seq("id"), "left_anti"))
      // staged before any table is replaced: each reads tables the others rewrite
      .map { case (t, df) => t -> Upsert.stage(df) }
    val specs = Registry.map(s => s.name -> s).toMap
    kept.foreach { case (t, df) => Upsert.mergeAndWrite(spark, path(dir, t), df, specs(t), fullSync = true) }
    val alive = read(path(dir, "graph.intellectual_entity"))
      .filter(col("schema_maintainer").isin(deadOrgs: _*)).select("schema_maintainer").distinct()
      .collect().map(_.getString(0)).toSet
    val emptied = orgIdents(dir, deadOrgs.filterNot(alive)).toSet
    IndexDocuments.dropPartitions(spark, docsPath(dir), emptied.toSeq.sorted.map(_.toLowerCase))
    (deadOrgs, emptied)
  }

  // ---- corpus_prep -----------------------------------------------------------

  private def corpus(file: File): DataFrame =
    spark.read.schema("id long, text string").json(file.getPath)

  /** quality filter → exact dedup → spanning MinHash → connected
    * components → keepers; traced runs call the steps one by one. */
  private def corpusPrep(file: File): Vector[Long] = {
    val kept =
      if (!traced)
        CorpusPrep.prepare(corpus(file), "id", "text", nearDup = true).select("id")
          .collect().map(_.getLong(0)).toVector
      else {
        val filtered = layer("text")(boundary("text",
          corpus(file).filter(CorpusPrep.qualityFilter(col("text"), CorpusPrep.Quality()))))
        val (exact, pairs) = layer("dedup") {
          val exact = boundary("dedup", CorpusPrep.exactDedupKeep(filtered, "id", "text"))
          (exact, boundary("dedup", graft.dedup.Dedup.minhashNearDupSpanning(exact, "id", "text",
            minJaccard = 0.8)))
        }
        layer("graph") {
          val comps = ConnectedComponents.run(exact.select(col("id")), pairs,
            srcCol = "id_a", dstCol = "id_b")
          val ids = boundary("graph", exact.join(ConnectedComponents.keepers(comps), Seq("id"),
            "left_semi").select("id")).collect().map(_.getLong(0)).toVector
          ConnectedComponents.release(comps)
          ids
        }
      }
    spark.catalog.clearCache()
    kept.sorted
  }

  // ---- driver -------------------------------------------------------------------

  /** Runs the workload; returns the result line and whether every check
    * passed. */
  def run(): (String, Boolean) = {
    a.work.mkdirs(); a.artifacts.mkdirs()
    // set-up: input staging runs three times and counts once, at its
    // median; the session build runs once, cold
    val gen = new Gen(a.seed, size)
    val stagingS = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      (if (r == 0) gen else new Gen(a.seed, size))
        .writeAll(if (r == 0) inputDir else new File(a.work, s"inputs-$r"))
      (System.nanoTime() - t0) / 1e9
    }
    val stagingExtra = stagingS.sum - median(stagingS)
    spark = SyncBench.session(a.work, inputDir, cores)
    trace = new Trace(spark, cores)
    if (a.trace) { trace.install(); traced = true }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - stagingExtra
    log(f"set-up ${setupS}%.1f s")

    def timed(what: String)(body: => Unit): (Double, Double) = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      if (traced) trace.span(what)(body) else body
      val t = (System.nanoTime() - t0) / 1e9
      log(f"$what $t%.3f s")
      (t, (osBean.getProcessCpuTime - c0) / 1e9)
    }
    val passes = mutable.ArrayBuffer.empty[(Double, Double)]
    val batches = mutable.ArrayBuffer.empty[(String, Double)]
    var sinkAfterRebuild = (0L, 0L)
    var docsAfterRebuild = 0L

    a.workload match {
      case "sync" =>
        val dir = new File(outDir, "sync")
        passes += timed("rebuild")(rebuild(new File(inputDir, "kg.nt"), dir))
        if (traced) {
          trace.drain()
          sinkAfterRebuild = (trace.layer("sink").writeParts, trace.layer("sink").writeRows)
          docsAfterRebuild = trace.layer("docs").writeParts
        }
        gen.rebuildExpect.toSeq.sortBy(_._1).foreach { case (t, ks) =>
          checkKeys(s"rebuild $t", snapshot(t, read(path(dir, t)))._1, ks)
        }
        checkKeys("rebuild docs", snapshot("docs", spark.read.parquet(docsPath(dir)))._1,
          gen.docsExpect(gen.entities))
        val t0 = System.nanoTime()
        var n = 0
        def more = if (traced) n < TracedBatches
          else n < MinBatches || (System.nanoTime() - t0) / 1e9 < a.seconds
        while (more) {
          require(n < gen.batches.length, "batch sequence exhausted; raise Size.batches")
          val b = gen.batches(n)
          batches += Gen.kind(n) -> timed("batch")(batch(new File(inputDir, f"batch_$n%03d.nt"),
            b.since, dir))._1
          n += 1
        }
        traced = false
        // the state after the n batches that ran: closed-form keys, and
        // rows equal to a full sync over the same final state (a full
        // sync's merge writes the staged records as they are)
        val live = gen.statesAfter(n)
        val finalState = new File(a.work, "final.nt")
        Gen.writeLines(finalState, gen.stateLines(live))
        val ref = pivot(QuadSource.ntriples(spark, finalState.getPath), Registry)
        val want = gen.stateExpect(live)
        Registry.foreach { s =>
          val (ks, rs) = snapshot(s.name, read(path(dir, s.name)))
          checkKeys(s"after $n batches ${s.name}", ks, want(s.name))
          check(s"${s.name} equals a full sync of the final state", rs == rows(ref(s.name)),
            "table differs from a full sync over the final state")
        }
        val (docKeys, docRows) = snapshot("docs", spark.read.parquet(docsPath(dir)))
        checkKeys(s"after $n batches docs", docKeys, gen.docsExpect(live))
        check("docs equal a full sync of the final state", docRows == rows(docsInput(ref, None)),
          "index documents differ from a full sync over the final state")
        val parts = Option(new File(docsPath(dir)).list()).getOrElse(Array.empty[String])
          .filter(_.startsWith("index=")).map(_.stripPrefix("index=")).toSet
        val wantParts = live.map(e => gen.orgs(e.org).ident.toLowerCase).toSet
        check("emptied index partitions dropped", parts == wantParts,
          s"stale ${(parts -- wantParts).mkString(",")}; missing ${(wantParts -- parts).mkString(",")}")

      case "corpus_prep" =>
        val file = new File(inputDir, "corpus.jsonl")
        var kept = Vector.empty[Long]
        val t0 = System.nanoTime()
        do passes += timed("pass") { kept = corpusPrep(file) }
        while (!traced && (System.nanoTime() - t0) / 1e9 < a.seconds)
        traced = false
        check("corpus_prep keepers", kept == gen.corpusKeepers,
          s"kept ${kept.length} vs expected ${gen.corpusKeepers.length}; " +
            s"unexpected ${(kept.toSet -- gen.corpusKeepers).take(5).mkString(",")}; " +
            s"missing ${(gen.corpusKeepers.toSet -- kept).take(5).mkString(",")}")
    }

    val failed = checks.count(!_._2)
    val attempted = passes.length + batches.length + checks.length
    // a corpus pass is its own batch: it lands and is readable at once
    val latencies = if (batches.nonEmpty) batches.map(_._2).toSeq else passes.map(_._1).toSeq
    val (tailS, tailPct, tailN) = tail(latencies)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"), ("job_s", median(passes.map(_._1).toSeq), "s"),
      ("batch_p50_s", median(latencies), "s"), ("batch_tail_s", tailS, "s"),
      ("cpu_s", median(passes.map(_._2).toSeq), "s"))
    val perLayer =
      if (!a.trace) Nil
      else layerMetrics(passes.map(_._1).toSeq, batches.toSeq, sinkAfterRebuild, docsAfterRebuild)
    val metrics = if (a.trace) perLayer else endToEnd
    val result =
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""" +
        metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
          .mkString(", ") + "}}"
    writeArtifact(endToEnd, perLayer, passes.toSeq, batches.toSeq, (tailS, tailPct, tailN),
      failed, attempted, stagingS)
    spark.stop()
    (result, failed == 0)
  }

  /** The untraced run's figure `metric` for this seed, from its
    * artifact, when that run was made in this checkout. */
  private def untracedFigure(metric: String): Option[Double] = {
    val f = new File(a.artifacts, s"${a.workload}_seed${a.seed}_trace0.json")
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f)
      try s""""$metric": \\{"value": ([0-9.eE+-]+)""".r.findFirstMatchIn(src.mkString)
        .map(_.group(1).toDouble)
      finally src.close()
    }
  }

  /** Per-layer metrics of the traced run: totals over its rebuild and
    * batches (or its corpus pass); the sink and docs rewrite counts are
    * per batch. */
  private def layerMetrics(passTimes: Seq[Double], batchTimes: Seq[(String, Double)],
                           sinkAfterRebuild: (Long, Long),
                           docsAfterRebuild: Long): Seq[(String, Double, String)] = {
    val generic = trace.report(Layers)
    val l = trace.layer _
    val nb = math.max(1, batchTimes.length)
    val timedWall = passTimes.sum + batchTimes.map(_._2).sum
    val layerWall = generic.filter(_._1.endsWith(".wall_s")).map(_._2).sum
    val tracedJob = median(passTimes)
    val tracedBatch = median(batchTimes.take(MinBatches).map(_._2))
    def overhead(traced: Double, metric: String) =
      untracedFigure(metric).map(traced - _).getOrElse(0.0)
    val specific = Seq(
      ("view.quads_per_row", ratio(l("view").cacheScanRows, l("view").stagedRows), "ratio"),
      ("view.cache_mb", trace.viewCacheBytes / 1e6, "MB"),
      ("sink.write_amp", ratio(l("sink").writeRows - sinkAfterRebuild._2, l("pivot").stagedRows), "ratio"),
      ("sink.buckets_rewritten", (l("sink").writeParts - sinkAfterRebuild._1).toDouble / nb, "count"),
      ("docs.partitions_rewritten", (l("docs").writeParts - docsAfterRebuild).toDouble / nb, "count"),
      ("dedup.candidate_precision", ratio(l("dedup").verifiedPairs, l("dedup").candidatePairs), "ratio"),
      ("graph.rounds", l("graph").ccRounds.toDouble, "count"),
      ("graph.jobs_per_round", ratio(l("graph").jobs, l("graph").ccRounds), "count"),
      ("trace.job_s", tracedJob, "s"),
      ("trace.job_overhead_s", overhead(tracedJob, "job_s"), "s"),
      ("trace.batch_p50_s", tracedBatch, "s"),
      ("trace.batch_overhead_s", if (batchTimes.isEmpty) 0.0 else overhead(tracedBatch, "batch_p50_s"), "s"),
      ("trace.reconcile", if (timedWall > 0) layerWall / timedWall else 0.0, "ratio"))
    generic ++ specific
  }

  private def lineCount(f: File): Long = {
    val src = scala.io.Source.fromFile(f)
    try src.getLines().size.toLong finally src.close()
  }

  private def ratio(a: Long, b: Long): Double = if (b > 0) a.toDouble / b else 0.0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    finally src.close()
  }

  private def writeArtifact(endToEnd: Seq[(String, Double, String)],
                            perLayer: Seq[(String, Double, String)], passes: Seq[(Double, Double)],
                            batches: Seq[(String, Double)], tail: (Double, Double, Int), failed: Int,
                            attempted: Int, staging: Seq[Double]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def arr(xs: scala.collection.Seq[String]) = xs.mkString("[", ", ", "]")
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    def mets(ms: Seq[(String, Double, String)]) =
      obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> q(u))) })
    val spans = trace.spans.map(s => obj(Seq("id" -> s.id.toString, "name" -> q(s.name),
      "parent" -> s.parent.toString, "start_ms" -> s.startMs.toString,
      "end_ms" -> s.endMs.toString, "dur_s" -> num(s.durNs / 1e9))))
    val body = obj(Seq(
      "run" -> q(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${jvmStartMs}"),
      "workload" -> q(a.workload), "seed" -> a.seed.toString, "seconds" -> num(a.seconds),
      "trace" -> a.trace.toString, "nproc" -> cores.toString,
      "heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> q(spark.version), "size" -> q(size.toString),
      "input" -> obj(Seq("quads" -> lineCount(new File(inputDir, "kg.nt")).toString,
        "entities" -> size.entities.toString, "batches_generated" -> size.batches.toString,
        "docs" -> lineCount(new File(inputDir, "corpus.jsonl")).toString)),
      "pass_s" -> arr(passes.map(p => num(p._1))), "pass_cpu_s" -> arr(passes.map(p => num(p._2))),
      "batches" -> arr(batches.map { case (k, t) => obj(Seq("kind" -> q(k), "s" -> num(t))) }),
      "batch_tail" -> obj(Seq("value_s" -> num(tail._1), "percentile" -> num(tail._2),
        "samples" -> tail._3.toString)),
      "staging_s" -> arr(staging.map(num)),
      "fail_rate" -> num(failed.toDouble / math.max(1, attempted)),
      "peak_rss_mb" -> num(peakRssMb()),
      "checks" -> arr(checks.map { case (n, ok, d) =>
        obj(Seq("name" -> q(n), "ok" -> ok.toString, "detail" -> q(d))) }),
      "end_to_end" -> mets(endToEnd), "per_layer" -> mets(perLayer),
      "conf" -> obj(spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) }),
      "spans" -> arr(spans)))
    Gen.writeLines(new File(a.artifacts,
      s"${a.workload}_seed${a.seed}_trace${if (a.trace) 1 else 0}.json"), Iterator(body))
  }
}
