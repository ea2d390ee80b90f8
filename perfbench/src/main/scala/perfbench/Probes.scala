package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream, InputStream, OutputStream}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{StructField, StructType}

import graft.catalog.PostgresCatalog
import graft.codec.{PgBinaryReader, PgBinaryWriter, PgBlockInput}
import graft.meta.{PgConnectionPool, PgTransportFactory}
import graft.sources.postgres.PostgresColumnarReader
import graft.sqlgen.PgSqlGen
import graft.sqlgen.PgSqlGen.ScanColumn
import graft.types.PgType

/** Per-layer measurements of the traced run: counters taken per pass
  * around the rounds, and probes that call each module's public
  * functions directly once the timed window is over. */
final class Probes(spark: SparkSession, env: Env, ops: Ops, trace: Trace) {

  private val cpuNs = new LongAdder
  private val shuffleBytes = new LongAdder
  private final case class Mark(gc: Long, jit: Long, conns: Long, acquires: Long, reuses: Long,
      cpu: Long, shuffle: Long, compiles: Long)
  private var mark: Mark = _
  private var windowStart: Mark = _
  private val perPass = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val seenStatements = mutable.Set.empty[String]
  private val passStatements = mutable.ArrayBuffer.empty[String]
  private var lastPassStatements: Seq[String] = Nil

  private def pool: (Long, Long) =
    env.dsns.map(PgConnectionPool.stats)
      .foldLeft((0L, 0L)) { case ((a, r), (a2, r2)) => (a + a2, r + r2) }

  private def now(): Mark = {
    val (a, r) = pool
    Mark(Health.gcMs, Health.jitMs, env.connectionsAccepted, a, r, cpuNs.sum, shuffleBytes.sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  private def put(k: String, v: Double): Unit =
    perPass.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  def install(): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          cpuNs.add(m.executorCpuTime)
          shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    Probes.current = this
    env.pg.clearCopyOutLog()
  }

  /** Moves the server's bounded COPY OUT log into this pass's list. */
  def drainCopyLog(): Unit = {
    passStatements ++= env.pg.copyOutSnapshot
    env.pg.clearCopyOutLog()
  }

  def beginPass(p: Int): Unit = {
    drainCopyLog()
    passStatements.clear()
    Probes.partitions = 0L
    Probes.rowsShipped = 0L
    mark = now()
    if (windowStart == null) windowStart = mark
  }

  def endPass(p: Int): Unit = {
    drainCopyLog()
    val stmts = passStatements.toVector
    if (mark != null) { // a timed pass
      val m = now()
      put("meta.connections_opened", (m.conns - mark.conns).toDouble)
      put("meta.repeat_statement_share",
        if (stmts.isEmpty) 0.0 else stmts.count(seenStatements.contains).toDouble / stmts.size)
      put("sources.partitions", Probes.partitions.toDouble)
      put("sources.rows_shipped", Probes.rowsShipped.toDouble)
      put("spark.task_cpu_s", (m.cpu - mark.cpu) / 1e9)
      put("spark.shuffle_mb", (m.shuffle - mark.shuffle) / 1048576.0)
      put("spark.codegen_compiles", (m.compiles - mark.compiles).toDouble)
      put("jvm.gc_ms", (m.gc - mark.gc).toDouble)
      put("jvm.jit_ms", (m.jit - mark.jit).toDouble)
      lastPassStatements = stmts
    }
    seenStatements ++= stmts
    passStatements.clear()
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def timeMedian(reps: Int)(body: => Unit): Double =
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })

  private def drain(in: InputStream): Long = {
    val buf = new Array[Byte](1 << 16)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) { total += n; n = in.read(buf) }
    in.close()
    total
  }

  private val SeededRe =
    Main.SeedTables.map(t => "\"public\".\"" + t + "\"").mkString("(", "|", ")").r.unanchored

  def afterWindow(timed: Range): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    perPass.foreach { case (k, v) => out(k) = median(v.toSeq) }
    val end = now()
    if (windowStart != null) {
      val acq = end.acquires - windowStart.acquires
      out("meta.pool_reuse_ratio") =
        if (acq == 0) 0.0 else (end.reuses - windowStart.reuses).toDouble / acq
    }
    out("jvm.codeheap_peak_mb") = Health.codeHeapPeakMb

    // ---- scan bytes: the last pass's statements on the seeded tables
    val stmts = lastPassStatements.filter(s => SeededRe.findFirstIn(s).isDefined).distinct
    def serveAll(open: String => InputStream): (Long, Double) = {
      val t0 = System.nanoTime()
      val bytes = stmts.map(s => drain(open(s))).sum
      (bytes, (System.nanoTime() - t0) / 1e9)
    }
    // served as the next pass would find them: from the cache where no
    // write since their last issue invalidated it, else encoded afresh
    val (_, nextS) = serveAll(env.pg.copyOut)
    // a DDL round trip bumps the server's scan-cache generation
    env.pg.execute("""CREATE TABLE "public"."pb_bump" ("x" INTEGER)""")
    env.pg.execute("""DROP TABLE "public"."pb_bump"""")
    val (rawBytes, rawS) = serveAll(env.pg.copyOut)
    val (_, cachedS) = serveAll(env.pg.copyOut)
    val wire = PgTransportFactory.open(env.tcpDsn)
    val (_, wireS) = try serveAll(wire.copyOut) finally wire.close()
    val mb = rawBytes / 1048576.0
    out("meta.copy_out_mb") = mb
    out("meta.serve_mb_per_s") = mb / rawS
    out("meta.cached_serve_mb_per_s") = mb / cachedS
    out("meta.next_pass_serve_mb_per_s") = mb / nextS
    out("meta.wire_mb_per_s") = mb / wireS

    // ---- codec and columnar decode over one full lineitem statement
    val cols = env.pg.getTable("public", "lineitem").columns
    val scanCols = cols.map { case (n, t) => ScanColumn(n, t) }
    val types = cols.map(_._2)
    val full = PgSqlGen.copyTableSql("public", "lineitem", scanCols, None, Nil)
    val bytes = {
      val bos = new ByteArrayOutputStream()
      env.pg.copyOut(full).transferTo(bos)
      bos.toByteArray
    }
    var rows: Vector[InternalRow] = Vector.empty
    val decodeS = timeMedian(3) {
      val in = new PgBlockInput(new ByteArrayInputStream(bytes))
      val reader = new PgBinaryReader(types)
      reader.readHeader(in)
      val b = Vector.newBuilder[InternalRow]
      var r = reader.readRow(in)
      while (r.isDefined) { b += r.get; r = reader.readRow(in) }
      rows = b.result()
    }
    out("codec.decode_rows_per_s") = rows.size / decodeS
    val writer = new PgBinaryWriter(types, types.map(PgType.toSpark))
    val encodeS = timeMedian(3) {
      val o = new DataOutputStream(OutputStream.nullOutputStream())
      writer.writeHeader(o)
      rows.foreach(writer.writeRow(o, _))
      writer.writeTrailer(o)
      o.flush()
    }
    out("codec.encode_rows_per_s") = rows.size / encodeS
    val required = StructType(cols.map { case (n, t) => StructField(n, PgType.toSpark(t)) })
    var colRows = 0L
    val colS = timeMedian(3) {
      val reader = new PostgresColumnarReader(env.memDsn, full, None, scanCols, required)
      colRows = 0L
      try while (reader.next()) colRows += reader.get().numRows()
      finally reader.close()
    }
    out("sources.columnar_decode_rows_per_s") = colRows / colS

    // ---- COPY IN of pre-encoded bytes over tcp, through close
    val colList = cols.map(c => PgSqlGen.quoteIdent(c._1)).mkString(", ")
    val copyInS = timeMedian(3) {
      val ddl = cols.map { case (n, t) => s"${PgSqlGen.quoteIdent(n)} ${PgType.typeString(t)}" }
      env.pg.execute(s"""CREATE TABLE "public"."pb_copyin" (${ddl.mkString(", ")})""")
      val t = PgTransportFactory.open(env.tcpDsn)
      try {
        val o = t.copyIn(s"""COPY "public"."pb_copyin" ($colList) FROM STDIN (FORMAT binary)""")
        o.write(bytes)
        o.close()
      } finally t.close()
      env.pg.execute("""DROP TABLE "public"."pb_copyin"""")
    }
    out("meta.copy_in_mb_per_s") = bytes.length / 1048576.0 / copyInS

    // ---- connection cost: fresh connect + SCRAM (and TLS)
    def connectMs(dsn: String): Double = 1000 * median((1 to 5).map { _ =>
      PgConnectionPool.drain(dsn)
      val t0 = System.nanoTime()
      PgTransportFactory.open(dsn).close()
      (System.nanoTime() - t0) / 1e9
    })
    out("meta.connect_ms") = connectMs(env.tcpDsn)
    out("meta.connect_tls_ms") = connectMs(env.tlsDsn)

    // ---- catalog discovery, cold and warm
    val cat = ops.tpchSession.sessionState.catalogManager.catalog(env.catalog)
      .asInstanceOf[PostgresCatalog]
    val ident = Identifier.of(Array("public"), "lineitem")
    val coldWarm = (1 to 5).map { _ =>
      cat.invalidateAll()
      val t0 = System.nanoTime(); cat.loadTable(ident)
      val t1 = System.nanoTime(); cat.loadTable(ident)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }
    out("catalog.load_table_cold_ms") = median(coldWarm.map(_._1))
    out("catalog.load_table_warm_ms") = median(coldWarm.map(_._2))

    // ---- the same TPC-H texts over parquet views, same JVM
    val ps = spark.newSession()
    graft.plans.FastDoubleDecimalSumRule.install(ps)
    graft.Tables.registerAll(ps, ops.dataDir)
    // the protocol of tpch_pass_s: warm-up passes, then the sum over the
    // queries of each one's median time across the timed passes
    val parquetTimes = (0 until Main.WarmupRounds + Main.MinTimedRounds).map { _ =>
      Main.TpchQueries.map { q =>
        val t0 = System.nanoTime()
        ps.sql(graft.SparkEntry.oracleSql(q)).queryExecution.toRdd.foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }
    }.drop(Main.WarmupRounds)
    out("spark.parquet_pass_s") = Main.TpchQueries.indices.map(i => median(parquetTimes.map(_(i)))).sum

    // ---- span-derived: planning and DML statements of the timed rounds
    def spanMedian(name: String): Double = median(timed.flatMap(p => trace.durations(name, p)))
    out("sources.plan_ms") = 1000 * spanMedian("plan")
    Seq("delete", "update", "merge").foreach(k =>
      out(s"sources.${k}_ms") = 1000 * spanMedian(s"dml.$k"))

    // ---- curation entries: one cold execution (output kept for the
    // oracle), then a timed one
    Main.CurationEntries.foreach { case (q, layer) =>
      ops.curation(q, -1)
      ops.curation(q, 0)
      val last = ops.records.last
      out(s"$layer.${q}_s") = if (last.ok) last.seconds else Double.NaN
    }
    out.toMap
  }
}

object Probes extends AdaptiveSparkPlanHelper {
  @volatile var current: Probes = _
  @volatile var partitions: Long = 0L
  @volatile var rowsShipped: Long = 0L

  /** Adds the connector scan nodes' partitions and output rows of an
    * executed query (never a merely planned one) to the pass's totals. */
  def scanStats(df: DataFrame): Unit = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.") => b
    }
    scans.foreach { b =>
      partitions += b.inputRDD.partitions.length
      rowsShipped += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
  }
}
