package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalJoinView, VersionedTable}

/** Write/read churn on one versioned table derived from lineitem (30k
  * rows, unique key `l_id`). Each round runs its four writes (append, DV
  * delete, DV update, DV merge upsert) in seeded order, then its four
  * reads in seeded order (catalog SQL count/min/max, clustered-key range
  * read, CDC since the previous round, join-view sync against a static
  * orders table); every round ends with maintenance (materialize decayed
  * deletion vectors, compact small files, expire, vacuum), so file count
  * and masked fraction cycle around a steady state.
  *
  * A shadow model applies the same mutations to a plain DataFrame; after
  * each round's writes and after its maintenance the table must match it
  * by count and by an order-insensitive row hash, and every read is
  * checked against it. */
final class VtChurn(perturb: Boolean) extends Workload {
  private val Writes = Seq("append", "delete", "update", "merge")
  private val Reads = Seq("sql_agg", "range_read", "cdc", "view_sync")

  /** lineitem scale: 30k rows, 7.5k orders. */
  private val Sf = 0.005
  private val BaseRows = 30000L
  private val BaseFiles = 2
  private val AppendRows = 500
  private val ChangeRows = 250
  private val MergeRows = 200
  private val RangeRows = 1500
  /** A cycle is one round. */
  def cycleSeconds: Double = 12.0
  override def cycleEnds(i: Int): Boolean = {
    ensurePlanned(i + warmOps + 1)
    planRound(i + warmOps + 1) != planRound(i + warmOps)
  }

  /** Logical bytes of one submitted row: nine 8-byte fields, one int,
    * two 1-char flags. */
  private val RowBytes = 9 * 8 + 4 + 2
  /** Steady-state bands checked at each round end. */
  private val MaxLiveFiles = 96
  private val MaxMaskedFrac = 0.5
  private val MaxLogBytes = 64L << 20

  private var spark: SparkSession = _
  private var seed = 0L
  private var table, orders, view = ""
  private var nextId = 0L
  private var shadow: DataFrame = _
  private var state: (Long, BigDecimal) = (0L, BigDecimal(0))
  private var prevState: (Long, BigDecimal) = (0L, BigDecimal(0))
  private var cdcFrom = 0
  private var plan: IndexedSeq[String] = IndexedSeq.empty
  private var planRound: IndexedSeq[Int] = IndexedSeq.empty
  private val roundWrites = mutable.ArrayBuffer.empty[Int]

  // storage accounting over the measured window
  private val seen = mutable.Map.empty[String, Long]
  private var measuring = false
  private var bytesLog, bytesData, userBytes, commits = 0L
  private val guard = mutable.ArrayBuffer.empty[(Int, Double, Long)]
  private val fileKb = mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]
  private var smallTable, smallView = 0L
  private val manifestReadMs = mutable.ArrayBuffer.empty[Double]
  private var aggReads, folded, rangeReads, measuredRounds = 0
  private var filesOpened, filesLive = 0L

  private def cols: Seq[Column] = Seq("l_id", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate").map(col)
  private def hashAgg(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def setup(s: SparkSession, seed: Long, dir: String): Unit = {
    spark = s
    this.seed = seed
    table = s"$dir/lineitem_vt"
    orders = s"$dir/orders_vt"
    view = s"$dir/lineitem_orders_view"
    nextId = BaseRows
    val base = Gen.lineitem(s, seed, Sf, 0L, nextId, withId = true)
    VersionedTable.commit(base.repartitionByRange(BaseFiles, col("l_id")).sortWithinPartitions("l_id"),
      table, overwrite = true, statsCols = Seq("l_id", "l_orderkey"))
    VersionedTable.commit(Gen.orders(s, seed, Sf).coalesce(1),
      orders, overwrite = true, statsCols = Seq("o_orderkey"))
    IncrementalJoinView.sync(s, view, table, orders, Seq("l_orderkey" -> "o_orderkey"),
      Seq("l_id"), Seq("o_orderkey"))
    // compaction's "small file" line sits below the fixture's files:
    // only the rounds' write outputs (a fixed per-file overhead plus few
    // rows) fall under it, so every round's maintenance packs the same
    // kind of files whatever the seed
    smallTable = (0.9 * liveSizes(table).min).toLong
    smallView = (0.9 * liveSizes(view).min).toLong
    shadow = base.localCheckpoint()
    state = hashAgg(shadow)
    prevState = state
    cdcFrom = VersionedTable.latestVersion(s, table).get
    planned = 0
    plan = IndexedSeq.empty
    planRound = IndexedSeq.empty
  }

  private var planned = 0
  private def ensurePlanned(i: Int): Unit =
    while (plan.size <= i) {
      val r = new scala.util.Random(seed * 1000003L + planned)
      val ops = r.shuffle(Writes) ++ r.shuffle(Reads) :+ "maintain"
      plan ++= ops
      planRound ++= ops.map(_ => planned)
      planned += 1
    }

  override def prepare(): Unit = {
    // one untimed, unchecked round (the shadow still follows it) warms
    // the write and read kinds and brings the version history and file
    // layout to the state every later round starts from
    var i = 0
    ensurePlanned(0)
    while (planRound(i) == 0) {
      val op = next(i)
      op.run()
      afterOp(i, op)
      i += 1
    }
    warmOps = i
    measuring = true
    scanStorage()
  }
  private var warmOps = 0

  private def rng(i: Int) = new scala.util.Random(seed * 7777L + i)
  /** A seeded key range inside one of the base files, so every range
    * read touches one base file whatever the seed. */
  private def rangeAt(r: scala.util.Random, width: Int): (Long, Long) = {
    val fileRows = BaseRows / BaseFiles
    val lo = r.nextInt(BaseFiles) * fileRows + r.nextInt((fileRows - width).toInt)
    (lo, lo + width - 1)
  }

  private val SlotRows = 500
  private val slotsUsed = Array.fill(BaseFiles)(0)
  /** Key range of a delete, update or merge: the write kinds alternate
    * between the two base files by round, and each write takes a seeded
    * offset in the next slot of a seeded permutation of its file's 30
    * slots. Until they run out (15 rounds) no write touches rows an
    * earlier one rewrote, so deletion
    * vectors and files evolve the same way for every seed (whether a
    * file holding the min or max key carries a vector, for one, decides
    * whether the catalog's min/max folds from metadata or scans). */
  private def slotAt(r: scala.util.Random, round: Int, kind: String,
      width: Int): (Long, Long) = {
    val f = (round + (if (kind == "update") 1 else 0)) % BaseFiles
    val fileRows = BaseRows / BaseFiles
    val slots = (fileRows / SlotRows).toInt
    val perm = new scala.util.Random(seed * 31L + f).shuffle((0 until slots).toVector)
    val lo = f * fileRows + perm(slotsUsed(f) % slots) * SlotRows +
      r.nextInt(SlotRows - width + 1)
    slotsUsed(f) += 1
    (lo, lo + width - 1)
  }

  def next(i0: Int): Op = {
    val i = i0 + warmOps
    ensurePlanned(i)
    val kind = plan(i)
    val r = rng(i)
    kind match {
      case "append" =>
        val from = nextId
        nextId += AppendRows
        val rows = Gen.lineitem(spark, seed, Sf, from, from + AppendRows, withId = true)
        write(kind, AppendRows, "vt.append") {
          VersionedTable.commit(rows.coalesce(1), table, overwrite = false)
        } { shadow = shadow.unionByName(rows) }
      case "delete" =>
        val (lo, hi) = slotAt(r, planRound(i), kind, ChangeRows)
        val p = col("l_id").between(lo, hi)
        write(kind, 0, "vt.delete") {
          VersionedTable.deleteWhere(spark, table, p, deletionVectors = true)
        } {
          // the self-test's perturbed reference skips a measured delete
          if (!(perturb && measuring)) shadow = shadow.where(!p)
        }
      case "update" =>
        val (lo, hi) = slotAt(r, planRound(i), kind, ChangeRows)
        val p = col("l_id").between(lo, hi)
        write(kind, 0, "vt.update") {
          VersionedTable.updateWhere(spark, table, p,
            Map("l_quantity" -> (col("l_quantity") + 1)), deletionVectors = true)
        } {
          shadow = shadow.withColumn("l_quantity",
            when(p, col("l_quantity") + 1).otherwise(col("l_quantity")))
        }
      case "merge" =>
        val (lo, _) = slotAt(r, planRound(i), kind, MergeRows)
        val from = nextId
        nextId += MergeRows
        // half existing keys with fresh values, half new keys
        val src = Gen.lineitem(spark, seed + 1 + i, Sf, lo, lo + MergeRows, withId = true)
          .unionByName(Gen.lineitem(spark, seed, Sf, from, from + MergeRows, withId = true))
          .coalesce(1)
        write(kind, 2 * MergeRows, "vt.merge") {
          VersionedTable.mergeInto(spark, table, src, Seq("l_id"), deletionVectors = true)
        } { shadow = shadow.join(src.select("l_id"), Seq("l_id"), "left_anti").unionByName(src) }
      case "sql_agg" =>
        Op(kind, { () =>
          val df = Trace.span("plans.plan") {
            val d = spark.sql(s"SELECT count(*) AS n, min(l_id) AS lo, max(l_id) AS hi FROM graft.`$table`")
            d.queryExecution.executedPlan
            d
          }
          aggReads += 1
          if (Plans.folded(df.queryExecution)) folded += 1
          Trace.span("spark.exec")(df.collect().head)
        }, { v =>
          val row = v.asInstanceOf[Row]
          val e = shadow.agg(count(lit(1)), min("l_id"), max("l_id")).head()
          if (row.getLong(0) == e.getLong(0) && row.getLong(1) == e.getLong(1) &&
            row.getLong(2) == e.getLong(2)) None
          else Some(s"sql_agg $row != $e")
        })
      case "range_read" =>
        val (lo, hi) = rangeAt(r, RangeRows)
        val q = s"SELECT count(*) AS n, sum(l_quantity) AS q FROM graft.`$table` " +
          s"WHERE l_id BETWEEN $lo AND $hi"
        Op(kind, { () =>
          val df = Trace.span("plans.plan") {
            val d = spark.sql(q)
            d.queryExecution.executedPlan
            d
          }
          val row = Trace.span("spark.exec")(df.collect().head)
          rangeReads += 1
          filesOpened += Plans.scans(df.queryExecution)._2
          (row.getLong(0), row.getDouble(1))
        }, { v =>
          val e = shadow.where(col("l_id").between(lo, hi))
            .agg(count(lit(1)), sum("l_quantity")).head()
          filesLive += liveEntries().size
          val got = v.asInstanceOf[(Long, Double)]
          if (got == ((e.getLong(0), e.getDouble(1)))) None
          else Some(s"range_read $got != $e")
        })
      case "cdc" =>
        Op(kind, { () =>
          val to = Trace.span("vt.manifest_read")(VersionedTable.latestVersion(spark, table).get)
          val ch = Trace.span("vt.cdc")(VersionedTable.readChangesRange(spark, table, cdcFrom, Some(to)))
          val sign = when(col("_change_type") === "insert", 1).otherwise(-1)
          val r = Trace.span("spark.exec")(ch.agg(sum(sign),
            sum(xxhash64(cols: _*).cast("decimal(38,0)") * sign)).head())
          cdcFrom = to
          (r.getLong(0), BigDecimal(r.getDecimal(1)))
        }, { v =>
          val want = (state._1 - prevState._1, state._2 - prevState._2)
          if (v == want) None else Some(s"cdc net change $v != $want")
        })
      case "view_sync" =>
        Op(kind, { () =>
          Trace.span("view.sync")(IncrementalJoinView.sync(spark, view, table, orders,
            Seq("l_orderkey" -> "o_orderkey"), Seq("l_id"), Seq("o_orderkey")))
        }, { _ =>
          // every l_orderkey has its order, so the view holds each live row once
          val got = hashAgg(VersionedTable.read(spark, view).select(cols: _*))
          if (got == state) None else Some(s"view $got != $state")
        })
      case "maintain" =>
        write(kind, 0, "vt.maintain") {
          VersionedTable.materializeDvAbove(spark, table, 0.2, 1L << 20)
          VersionedTable.compactSmall(spark, table, 1L << 20, smallTable)
          // the next round's CDC read and view sync start at this round's
          // last write, which the newest three versions always hold (it,
          // a rare DV materialization, the compaction); the view's own
          // newest two hold its last sync record. Short histories keep
          // expire's and vacuum's work the same every round.
          VersionedTable.expire(spark, table, keepLast = 3)
          VersionedTable.vacuumUnreferenced(spark, table, ttlMs = 0L)
          VersionedTable.compactSmall(spark, view, 1L << 20, smallView)
          VersionedTable.expire(spark, view, keepLast = 2)
          VersionedTable.vacuumUnreferenced(spark, view, ttlMs = 0L)
        } {}.copy(check = { _ =>
          // maintenance must not change content: the table and the view
          // (synced earlier in the round) still hold the shadow's rows
          val t = hashAgg(VersionedTable.read(spark, table))
          val v = hashAgg(VersionedTable.read(spark, view).select(cols: _*))
          if (t != state) Some(s"maintain: table $t != shadow $state")
          else if (v != state) Some(s"maintain: view $v != shadow $state")
          else None
        })
    }
  }

  private def write(kind: String, submittedRows: Long, span: String)(body: => Any)(model: => Unit): Op =
    Op(kind, () => { Trace.span(span)(body); model; userBytes += submittedRows * RowBytes }, _ => None)

  private def liveEntries(): Seq[VersionedTable.FileEntry] =
    VersionedTable.readEntries(spark, table, VersionedTable.latestVersion(spark, table).get)
  private def liveSizes(path: String): Seq[Long] =
    VersionedTable.readEntries(spark, path, VersionedTable.latestVersion(spark, path).get)
      .map(e => new File(path, e.name).length)

  /** Adds the bytes of files not seen before (data, DV sidecars, log). */
  private def scanStorage(): Unit = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(table)).filterNot(_.getName.startsWith(".")).foreach { f =>
      val p = f.getPath
      if (!seen.contains(p)) {
        seen(p) = f.length
        if (measuring) {
          if (p.contains("/_graft_log/")) bytesLog += f.length else bytesData += f.length
        }
      }
    }
  }

  private def diskBytes(): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new File(table))
  }

  override def afterOp(i0: Int, op: Op): Seq[(Int, String)] = {
    val i = i0 + warmOps
    scanStorage()
    if (Writes.contains(op.kind) || op.kind == "maintain") {
      if (measuring) commits += 1
    }
    if (Writes.contains(op.kind)) roundWrites += i0
    ensurePlanned(i + 1)
    val lastWrite = Writes.contains(op.kind) && !Writes.contains(plan(i + 1))
    val roundEnd = planRound(i + 1) != planRound(i)
    val out = mutable.ArrayBuffer.empty[(Int, String)]
    if (lastWrite) {
      val old = shadow
      shadow = shadow.localCheckpoint()
      // drop the previous checkpoint's blocks: only the engine's own
      // cached blocks may show in spark.storage_mem_growth_mb
      old.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.unpersist(false) }
      prevState = state
      state = hashAgg(shadow)
      lazy val got = hashAgg(VersionedTable.read(spark, table))
      if (measuring && got != state)
        roundWrites.foreach(j => out += ((j, s"round ${planRound(i)}: table $got != shadow $state")))
      roundWrites.clear()
    }
    if (roundEnd) {
      val t0 = System.nanoTime()
      val es = liveEntries()
      if (measuring) manifestReadMs += (System.nanoTime() - t0) / 1e6
      val masked = es.flatMap(_.dv.map(_._2)).sum.toDouble / es.map(_.nRows).sum.max(1L)
      val logBytes = Option(new File(table, "_graft_log").listFiles).toSeq.flatten.map(_.length).sum
      guard += ((es.size, masked, logBytes))
      fileKb += ((es.map(e => new File(table, e.name).length / 1024).sorted,
        liveSizes(view).map(_ / 1024).sorted))
      if (measuring) measuredRounds += 1
      if (es.size > MaxLiveFiles || masked > MaxMaskedFrac || logBytes > MaxLogBytes)
        throw new IllegalStateException(s"vt_churn left its steady state at round " +
          s"${planRound(i)}: files=${es.size} masked=$masked log_bytes=$logBytes")
    }
    out.toSeq
  }

  override def layerMetrics(): Map[String, Double] = {
    val live = state._1 * RowBytes
    Map(
      "plans.fold_frac" -> folded.toDouble / aggReads.max(1),
      "plans.files_opened_per_read" -> filesOpened.toDouble / rangeReads.max(1),
      "plans.files_pruned_frac" -> (1 - filesOpened.toDouble / filesLive.max(1L)),
      "vt.manifest_read_ms" -> Main.median(manifestReadMs.toSeq),
      "vt.manifest_bytes_per_commit" -> bytesLog.toDouble / commits.max(1L),
      "vt.data_bytes_per_commit" -> bytesData.toDouble / commits.max(1L),
      "vt.live_files" -> Main.median(guard.map(_._1.toDouble).toSeq),
      "vt.dv_masked_frac" -> Main.median(guard.map(_._2).toSeq),
      "vt.write_amp" -> (bytesLog + bytesData).toDouble / userBytes.max(1L),
      "vt.space_amp" -> diskBytes().toDouble / live.max(1L))
  }

  override def artifact(): Map[String, Any] = Map(
    "rounds" -> measuredRounds,
    "small_file_bytes" -> Map("table" -> smallTable, "view" -> smallView),
    "file_kb_per_round" -> fileKb.map { case (t, v) => Map("table" -> t, "view" -> v) }.toSeq,
    "guard_per_round" -> guard.map { case (f, m, l) =>
      Map("live_files" -> f, "dv_masked_frac" -> m, "log_bytes" -> l) }.toSeq,
    "bands" -> Map("live_files" -> MaxLiveFiles, "dv_masked_frac" -> MaxMaskedFrac,
      "log_bytes" -> MaxLogBytes),
    "write_amp" -> (bytesLog + bytesData).toDouble / userBytes.max(1L),
    "space_amp" -> diskBytes().toDouble / (state._1 * RowBytes).max(1L),
    "bytes_written" -> Map("log" -> bytesLog, "data" -> bytesData, "user" -> userBytes),
    "commits" -> commits)
}
