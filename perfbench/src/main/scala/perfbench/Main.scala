package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.meta.{InMemoryPg, PgConnectionPool, PgTransportFactory, PgWireServer}
import graft.sqlgen.PgSqlGen
import graft.types.PgType

/** One benchmark run in one JVM: set up (three times, the last one
  * kept), run untimed warm-up rounds (the first one keeps its TPC-H
  * outputs for the oracle check), then repeat whole rounds until the
  * time budget is spent.
  * Every operation is recorded as ok or failed with its own timing;
  * perfbench/run.py turns the records into metrics and checks them.
  *
  * Args: workload seconds trace(0|1) dataDir outDir inputsJson tlsDir cpus */
object Main {

  /** Adapted TPC-H queries run every round (Q1 is c16, Qn is c(n+16)):
    * grouped aggregation, a join with top-N, a six-way join, a selective
    * scan, an outer join with two-level aggregation, and EXISTS with
    * NOT EXISTS. */
  val TpchQueries: Seq[String] = Seq(
    "c16_pg_tpch_q1", "c19_tpch_q03", "c21_tpch_q05", "c22_tpch_q06",
    "c29_tpch_q13", "c37_tpch_q21")

  /** Curation entries (traced run only) and the layer each one times. */
  val CurationEntries: Seq[(String, String)] = Seq(
    "p22_cross_dedup" -> "operators", "p08_lsh_pairs" -> "operators",
    "p26_ngram_dup_rate" -> "operators", "p52_cdc_chunks" -> "operators",
    "p38_bpe_tokenize" -> "operators", "s09_ann_ivfadc" -> "operators",
    "st06_pg_stream_dedup" -> "streaming")

  /** Untimed rounds before the window. The first execution of every
    * query pays class loading and codegen; the JIT then keeps making
    * rounds faster for several rounds. A run on a slow host falls
    * behind on that curve, so timing later rounds narrows the spread
    * between runs. */
  val WarmupRounds = 3
  /** The window always holds at least this many rounds, so that every
    * run takes its medians over the same round positions: rounds keep
    * getting faster for a while as the JIT catches up. The heap is read
    * after the last of them. */
  val MinTimedRounds = 3

  val SeedTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  val SetupReps = 3

  /** Used heap after full collections. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  val User = "bench"
  val Password = "perfbench-pw"

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsS, traceS, dataDir, outDir, inputsPath, tlsDir, cpus) = args
    val seconds = secondsS.toDouble
    val trace = new Trace(traceS == "1")
    new File(outDir).mkdirs()
    val inputs = new ObjectMapper().readTree(new File(inputsPath))
    val rounds = inputs.get("rounds").elements().asScala.toVector

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.FastDoubleDecimalSumRule.install(spark)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ---- set-up, repeated: seed through the write path, servers, attach
    val tlsCtx = Tls.serverContext(s"$tlsDir/ks.p12", Tls.StorePass)
    val rootPem = s"$tlsDir/root.pem"
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var env: Env = null
    for (i <- 0 until SetupReps) {
      if (env != null) env.close()
      val t0 = System.nanoTime()
      env = trace.span("setup") {
        Env.create(spark, workload, s"pb$i", dataDir, tlsCtx, rootPem)
      }
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

    val ops = new Ops(spark, env, dataDir, outDir, trace)
    val probes = new Probes(spark, env, ops, trace)
    if (trace.enabled) probes.install()

    // ---- warm-up: untimed; the first round's TPC-H results are the ones
    // the oracle checks
    for (r <- 0 until WarmupRounds) {
      trace.pass = r
      ops.round(r, rounds(r), keepResults = r == 0)
      if (trace.enabled) probes.endPass(r)
    }

    // ---- timed window: whole rounds until the budget is spent. After a
    // fixed number of timed rounds (the same work on every seed), the
    // heap is read after full collections, between two rounds, with
    // pauses for Spark's cleaner thread; that pause is left out of the
    // window's budget.
    val heapAfter = WarmupRounds + MinTimedRounds - 1
    var retainedMb = Double.NaN
    var pausedNs = 0L
    val start = System.nanoTime()
    var r = WarmupRounds
    def elapsedS = (System.nanoTime() - start - pausedNs) / 1e9
    while ((r - WarmupRounds < MinTimedRounds || elapsedS < seconds) && r < rounds.length) {
      trace.pass = r
      if (trace.enabled) probes.beginPass(r)
      trace.span("round") { ops.round(r, rounds(r), keepResults = false) }
      if (trace.enabled) probes.endPass(r)
      if (r == heapAfter) {
        val t0 = System.nanoTime()
        retainedMb = Main.retainedHeapMb()
        pausedNs += System.nanoTime() - t0
      }
      r += 1
    }
    val windowS = elapsedS
    val timedRounds = r - WarmupRounds

    val layers =
      if (trace.enabled) probes.afterWindow(WarmupRounds until r) else Map.empty[String, Double]

    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "session_s" -> Json.num(sessionS),
      "setup_reps_s" -> Json.arr(setupTimes.map(Json.num)),
      "window_s" -> Json.num(windowS),
      "warmup_rounds" -> WarmupRounds.toString,
      "timed_rounds" -> timedRounds.toString,
      "retained_heap_mb" -> Json.num(retainedMb),
      "health" -> Health.json(spark),
      "oracle_sql" -> Json.obj((TpchQueries ++
        (if (trace.enabled) CurationEntries.map(_._1) else Nil)).map(n =>
          n -> Json.str(graft.SparkEntry.oracleSql(n)))),
      "ops" -> Json.arr(ops.records.map(_.json)),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(s"$outDir/result.json"), doc)
    if (trace.enabled) Files.writeString(Paths.get(s"$outDir/spans.json"), trace.toJson)
    env.close()
    spark.stop()
  }
}

/** What one set-up builds: the seeded server, its loopback wire
  * servers, the DSNs of the workload, the attached catalog, and where
  * the loads and the DML write. On `mem` they write to a second
  * in-process server, so the seeded server's scan cache stays valid for
  * the whole run; on `wire` they write to the seeded server over tcp,
  * and every write invalidates its scan cache. */
final class Env(val pgName: String, val pg: InMemoryPg, val plain: PgWireServer,
    val tls: PgWireServer, val memDsn: String, val tcpDsn: String, val tlsDsn: String,
    val workload: String, val catalog: String) {

  /** The DSN a generated operation names: `mem`, `tcp` or `tls`. */
  def dsn(via: String): String = via match {
    case "mem" => memDsn
    case "tcp" => tcpDsn
    case "tls" => tlsDsn
  }

  /** The DSN the catalog reads through in this workload. */
  def mainDsn: String = if (workload == "mem") memDsn else tcpDsn

  /** The server, DSN and catalog the loads and the DML write through. */
  val writePgName: String = if (workload == "mem") s"${pgName}_w" else pgName
  def writeDsn: String = if (workload == "mem") s"mem:$writePgName" else tcpDsn
  val writeCatalog: String = if (workload == "mem") s"${catalog}w" else catalog

  def dsns: Seq[String] = Seq(memDsn, tcpDsn, tlsDsn, writeDsn).distinct

  def connectionsAccepted: Long = plain.connectionsAccepted.toLong + tls.connectionsAccepted

  def close(): Unit = {
    plain.close(); tls.close()
    dsns.foreach(PgConnectionPool.drain)
    InMemoryPg.reset(pgName)
    InMemoryPg.reset(writePgName)
  }
}

object Env {
  def create(spark: SparkSession, workload: String, name: String, dataDir: String,
      tlsCtx: javax.net.ssl.SSLContext, rootPem: String): Env = {
    val pgName = s"perfbench_$name"
    val pg = InMemoryPg.forName(pgName)
    val memDsn = s"mem:$pgName"
    Main.SeedTables.foreach(t => createAndLoad(spark, memDsn,
      t, graft.Tables.load(spark, dataDir, t)))
    val auth = PgWireServer.Scram(Map(Main.User -> Main.Password))
    val plain = new PgWireServer(pg, auth)
    val tls = new PgWireServer(pg, auth, tls = Some(tlsCtx))
    val cred = s"?user=${Main.User}&password=${Main.Password}"
    val tcpDsn = plain.dsn("graft") + cred + "&sslmode=disable"
    val tlsDsn = tls.dsn("graft") + cred + s"&sslmode=verify-full&sslrootcert=$rootPem"
    val env = new Env(pgName, pg, plain, tls, memDsn, tcpDsn, tlsDsn, workload, name)
    InMemoryPg.forName(env.writePgName)
    Seq(name -> env.mainDsn, env.writeCatalog -> env.writeDsn).distinct.foreach {
      case (cat, dsn) =>
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.PostgresCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.dsn", dsn)
        spark.sql(s"SHOW TABLES IN $cat.public").collect()
    }
    env
  }

  /** CREATE TABLE forwarded as DDL, then a binary COPY FROM STDIN write:
    * the connector's own write path. */
  def createAndLoad(spark: SparkSession, dsn: String, table: String, df: DataFrame): Unit = {
    createTable(dsn, table, df)
    df.write.format("postgres").option("dsn", dsn).option("table", table)
      .mode("append").save()
  }

  def createTable(dsn: String, table: String, df: DataFrame): Unit = {
    val colDefs = df.schema.fields.map { f =>
      s"${PgSqlGen.quoteIdent(f.name)} ${PgType.typeString(PgType.fromSpark(f.dataType))}"
    }.mkString(", ")
    val t = PgTransportFactory.open(dsn)
    try t.execute(s"""CREATE TABLE "public".${PgSqlGen.quoteIdent(table)} ($colDefs)""")
    finally t.close()
  }

  def dropTable(dsn: String, table: String): Unit = {
    val t = PgTransportFactory.open(dsn)
    try t.execute(s"""DROP TABLE IF EXISTS "public".${PgSqlGen.quoteIdent(table)}""")
    finally t.close()
  }
}

/** Loopback TLS identity for the wire server (the key store is made
  * with keytool when the benchmark is built). */
object Tls {
  val StorePass: Array[Char] = "perfbench-tls".toCharArray

  def serverContext(keystore: String, pass: Array[Char]): javax.net.ssl.SSLContext = {
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(keystore)
    try ks.load(in, pass) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, pass)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }
}

/** Run-health record printed with every run. */
object Health {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  def codeHeapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap"))
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def json(spark: SparkSession): String = {
    val vmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val codeCache = vmArgs.find(_.startsWith("-XX:ReservedCodeCacheSize="))
      .map(_.stripPrefix("-XX:ReservedCodeCacheSize=")).getOrElse("jvm default")
    Json.obj(Seq(
      "codegen_cache_max_entries" -> Json.str(
        spark.conf.getOption("spark.sql.codegen.cache.maxEntries").getOrElse("unset")),
      "reserved_code_cache" -> Json.str(codeCache),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "master" -> Json.str(spark.sparkContext.master),
      "gc_ms" -> gcMs.toString,
      "jit_ms" -> jitMs.toString,
      "codeheap_peak_mb" -> Json.num(codeHeapPeakMb)))
  }
}

object Inputs {
  def strs(n: JsonNode, k: String): Seq[String] =
    n.get(k).elements().asScala.map(_.asText).toSeq
}
