package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One recorded operation. `count`/`sums` carry the order-independent
  * checksum of the rows it produced (scans, lookups) or of the table
  * it left behind (loads, DML rounds); `spec` carries the generated
  * inputs the oracle needs to recompute them. */
final case class OpRecord(phase: String, name: String, round: Int, ok: Boolean,
    seconds: Double, count: Long = -1L, sums: Seq[(String, Long)] = Nil,
    spec: String = "null", error: String = "") {
  def json: String = Json.obj(Seq(
    "phase" -> Json.str(phase), "name" -> Json.str(name), "round" -> round.toString,
    "ok" -> ok.toString, "s" -> Json.num(seconds), "count" -> count.toString,
    "sums" -> Json.obj(sums.map { case (k, v) => k -> v.toString }),
    "spec" -> spec, "error" -> Json.str(error)))
}

object Checksum {
  /** Per-column fingerprint of one value; the DuckDB side of the check
    * (perfbench/check.py) computes the same expression:
    * integers as is, doubles as round(v * 100), strings as
    * length + 1000 * first code point + 1e6 * last code point,
    * timestamps as whole epoch seconds, nulls as 0. */
  def fp(row: InternalRow, i: Int, dt: DataType): Long =
    if (row.isNullAt(i)) 0L
    else dt match {
      case LongType => row.getLong(i)
      case IntegerType => row.getInt(i).toLong
      case ShortType => row.getShort(i).toLong
      case DoubleType => math.round(row.getDouble(i) * 100)
      case StringType =>
        val s = row.getUTF8String(i).toString
        if (s.isEmpty) 0L
        else s.codePointCount(0, s.length).toLong + 1000L * s.codePointAt(0) +
          1000000L * s.codePointBefore(s.length)
      case TimestampType | TimestampNTZType => Math.floorDiv(row.getLong(i), 1000000L)
      case DateType => row.getInt(i).toLong
      case other => throw new IllegalArgumentException(s"no fingerprint for $other")
    }

  /** Force every row of `df` and return (count, per-column sums). */
  def of(df: DataFrame): (Long, Seq[(String, Long)]) = {
    val fields = df.schema.fields
    val types = fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val sums = new Array[Long](types.length)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        n += 1
        var i = 0
        while (i < types.length) { sums(i) += fp(r, i, types(i)); i += 1 }
      }
      Iterator.single((n, sums))
    }.collect()
    val n = parts.map(_._1).sum
    val sums = fields.indices.map(i => parts.map(_._2(i)).sum)
    (n, fields.map(_.name).toSeq.zip(sums))
  }
}

/** The operations of one round, in three phases: the TPC-H pass through
  * the attached catalog, bulk scans and key lookups, and COPY loads with
  * a DML round. The curation entries run only in the traced run, after
  * the window (see [[Probes]]). */
final class Ops(spark: SparkSession, env: Env, val dataDir: String, outDir: String,
    trace: Trace) {

  val records = mutable.ArrayBuffer.empty[OpRecord]

  /** TPC-H runs the oracle's own SQL text in a session whose current
    * namespace is the attached catalog's `public` schema. */
  val tpchSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set(s"spark.sql.catalog.${env.catalog}", "graft.catalog.PostgresCatalog")
    s.conf.set(s"spark.sql.catalog.${env.catalog}.dsn", env.mainDsn)
    graft.plans.FastDoubleDecimalSumRule.install(s)
    s.sql(s"USE ${env.catalog}.public")
    s
  }

  private def timed(phase: String, name: String, round: Int)(
      body: => (Long, Seq[(String, Long)], String)): Unit = {
    val t0 = System.nanoTime()
    try {
      val (n, sums, spec) = trace.span(s"$phase.$name") { body }
      records += OpRecord(phase, name, round, ok = true, (System.nanoTime() - t0) / 1e9,
        n, sums, spec)
    } catch {
      case e: Throwable =>
        records += failed(phase, name, round, t0, e)
    }
    if (trace.enabled && Probes.current != null) Probes.current.drainCopyLog()
  }

  private def failed(phase: String, name: String, round: Int, t0: Long, e: Throwable) =
    OpRecord(phase, name, round, ok = false, (System.nanoTime() - t0) / 1e9,
      error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")

  /** Plan (discovery, ctid ranges, snapshot export) as its own span,
    * then force every row. */
  private def planThenRun(df: => DataFrame, keep: Option[String]): Unit = {
    val d = trace.span("plan") { val d = df; d.queryExecution.executedPlan; d }
    trace.span("execute") {
      keep match {
        case Some(path) => d.coalesce(1).write.mode("overwrite").parquet(path)
        case None =>
          d.queryExecution.toRdd.foreach(_ => ())
          if (trace.enabled) Probes.scanStats(d)
      }
    }
  }

  def round(r: Int, spec: JsonNode, keepResults: Boolean): Unit = {
    trace.span("phase.tpch") { tpch(r, keepResults) }
    trace.span("phase.scan") { scans(r, spec) }
    trace.span("phase.copy") { copy(r, spec) }
  }

  def tpch(r: Int, keep: Boolean): Unit = Main.TpchQueries.foreach { q =>
    val sql = graft.SparkEntry.oracleSql(q)
    timed("tpch", q, r) {
      planThenRun(tpchSession.sql(sql), if (keep) Some(s"$outDir/results/$q") else None)
      (-1L, Nil, "null")
    }
  }

  /** One curation entry; `r` is -1 for the first (cold) execution, whose
    * output is kept for the oracle, and counts up for the timed ones. */
  def curation(q: String, r: Int): Unit = {
    val fn = graft.SparkEntry.queries(q)
    timed("curation", q, r) {
      planThenRun(fn(spark, dataDir), if (r < 0) Some(s"$outDir/results/$q") else None)
      (-1L, Nil, "null")
    }
  }

  private def read(via: String, table: String): DataFrame =
    spark.read.format("postgres").option("dsn", env.dsn(via)).option("table", table).load()

  def scans(r: Int, spec: JsonNode): Unit = {
    spec.get("scans").elements().asScala.zipWithIndex.foreach { case (s, i) =>
      val table = s.get("table").asText
      val key = s.get("key").asText
      val cols = Inputs.strs(s, "cols")
      timed("scan", s"$table.$i", r) {
        val df = trace.span("plan") {
          val d = read(s.get("via").asText, table)
            .filter(col(key).between(s.get("lo").asLong, s.get("hi").asLong))
            .select(cols.map(col): _*)
          d.queryExecution.executedPlan
          d
        }
        val (n, sums) = trace.span("execute") { Checksum.of(df) }
        if (trace.enabled) Probes.scanStats(df)
        (n, sums, s.toString)
      }
    }
    spec.get("lookups").elements().asScala.zipWithIndex.foreach { case (s, i) =>
      val table = s.get("table").asText
      timed("lookup", s"$table.$i", r) {
        val df = trace.span("plan") {
          val d = read(s.get("via").asText, table)
            .filter(col(s.get("key").asText) === s.get("k").asLong)
          d.queryExecution.executedPlan
          d
        }
        val (n, sums) = trace.span("execute") { Checksum.of(df) }
        if (trace.enabled) Probes.scanStats(df)
        (n, sums, s.toString)
      }
    }
  }

  private def readBack(table: String): (Long, Seq[(String, Long)]) =
    Checksum.of(spark.read.format("postgres").option("dsn", env.writeDsn)
      .option("table", table).load())

  def copy(r: Int, spec: JsonNode): Unit = {
    val dsn = env.writeDsn
    spec.get("loads").elements().asScala.zipWithIndex.foreach { case (s, i) =>
      val table = s.get("table").asText
      val target = s"ld_${r}_${i}_$table"
      val src = graft.Tables.load(spark, dataDir, table)
        .filter(col(s.get("key").asText).between(s.get("lo").asLong, s.get("hi").asLong))
      val t0 = System.nanoTime()
      val ok = try {
        trace.span(s"load.$table") { Env.createAndLoad(spark, dsn, target, src) }
        true
      } catch {
        case e: Throwable =>
          records += failed("load", s"$table.$i", r, t0, e)
          false
      }
      if (ok) {
        val dt = (System.nanoTime() - t0) / 1e9
        // the read-back is the round-trip check, outside the timing; a
        // read-back that fails leaves count -1, which the check rejects
        val (n, sums) = try readBack(target) catch { case _: Exception => (-1L, Nil) }
        records += OpRecord("load", s"$table.$i", r, ok = true, dt, n, sums, s.toString)
        Env.dropTable(dsn, target)
      }
    }

    // DML round on a working copy of customer, reset outside the timing
    val d = spec.get("dml")
    val work = "work_customer"
    Env.dropTable(dsn, work)
    Env.createAndLoad(spark, dsn, work, graft.Tables.load(spark, dataDir, "customer"))
    graft.Tables.load(spark, dataDir, "customer").createOrReplaceTempView("pb_customer_src")
    val cat = s"${env.writeCatalog}.public.$work"
    val stmts = Seq(
      "delete" -> s"DELETE FROM $cat WHERE c_acctbal < ${d.get("delete_below").asDouble}",
      "update" -> (s"UPDATE $cat SET c_mktsegment = 'redacted' " +
        s"WHERE c_nationkey % ${d.get("update_mod").asInt} = ${d.get("update_rem").asInt}"),
      "merge" ->
        s"""MERGE INTO $cat t
           |USING (
           |  SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nk, c_acctbal AS bal,
           |    'merged' AS seg
           |  FROM pb_customer_src WHERE c_custkey % ${d.get("merge_mod").asInt} = 0
           |  UNION ALL
           |  SELECT c_custkey + 1000000000, c_name, c_nationkey, c_acctbal, 'inserted'
           |  FROM pb_customer_src WHERE c_custkey <= ${d.get("merge_new").asInt}) src
           |ON t.c_custkey = src.k
           |WHEN MATCHED THEN UPDATE SET c_mktsegment = src.seg
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
           |  VALUES (src.k, src.nm, src.nk, src.bal, src.seg)""".stripMargin)
    stmts.foreach { case (kind, sql) =>
      timed("dml", kind, r) {
        trace.span(s"dml.$kind") { spark.sql(sql).collect() }
        (-1L, Nil, "null")
      }
    }
    // the state is checked only after a round whose three statements all
    // succeeded; a failed statement is already counted as failed
    val roundOk = records.takeRight(stmts.size).forall(_.ok)
    val (n, sums) = try readBack(work) catch { case _: Exception => (-1L, Nil) }
    records += OpRecord("dml_state", "work_customer", r, roundOk, 0.0, n, sums, d.toString)
  }
}
