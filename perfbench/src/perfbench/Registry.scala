package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** Read-only analytics over the operator library: a fixed list of registry
  * slots (`registry_slots.txt`) run through `SparkEntry.queries`. Each
  * query's function call and its consumption are timed separately; the
  * registry's release hooks run untimed after it.
  */
object Registry {

  /** `name count` lines: the DuckDB oracle's row count for each slot. */
  private def readCounts(path: String): Map[String, Long] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(n, c) = l.split("\\s+"); n -> c.toLong }.toMap

  private def readSlots(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** The release hooks a caller must run after consuming a query. */
  private def release(): Unit = {
    graft.queries.ParityQueries.releaseSessions()
    graft.ops.Linkage.releaseShared()
    graft.queries.RelationalQueries.releaseShared()
  }

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Seconds one pass takes at the seed commit on 4 cores. */
  private val NominalPassS = 45

  def mix(ctx: Ctx): Outcome = {
    val slots = readSlots(s"${ctx.benchDir}/registry_slots.txt")
    val oracle = readCounts(s"${ctx.benchDir}/oracle_counts.txt")
    val queries = SparkEntry.queries
    val missing = slots.filterNot(s => queries.contains(s) && oracle.contains(s))
    require(missing.isEmpty, s"slots without a query or an oracle count: $missing")

    // set-up: a fresh session with the library's extensions, and the schema
    // of every input table (file listing and footer read), which is what a
    // session needs before its first query; the last one runs the queries
    val setups = mutable.Buffer.empty[Double]
    var session = ctx.spark
    for (_ <- 1 to Main.SetupRepeats) {
      ctx.tracer.setOp(0)
      val t0 = System.nanoTime()
      session = ctx.tracer.span("setup") {
        val s = ctx.spark.newSession()
        Tables.foreach(t => s.read.parquet(s"${ctx.dataDir}/$t.parquet").schema)
        s
      }
      setups += (System.nanoTime() - t0) / 1e9
    }
    ctx.tracer.watch(session)

    // The parity reads share one lazily built warm base, and the first read
    // of each table pays its ingest; they run first, so the ingest lands on
    // the same queries in every run. The rest follow. The order is fixed and
    // the seed is not used: the tables are fixed, and an order that varies
    // moves JIT and codegen warm-up cost from query to query, which widens the
    // spread between runs.
    val (parity, rest) = slots.partition(graft.queries.ParityQueries.all.contains)
    val order = parity ++ rest
    val ops = mutable.Buffer.empty[OpRec]
    val afterRelease = mutable.Buffer.empty[Double]
    def run(name: String): OpRec = {
      val opId = ops.size + 1
      ctx.tracer.setOp(opId)
      val t0 = System.nanoTime()
      var t1 = t0
      val result =
        try {
          ctx.tracer.span("query") {
            val df = ctx.tracer.span("queries.build")(queries(name)(session, ctx.dataDir))
            t1 = System.nanoTime()
            Right(ctx.consume(df))
          }
        } catch { case e: Exception => Left(e.toString) }
      val t2 = System.nanoTime()
      val ok = result match {
        case Right(n) if n == oracle(name) => true
        case Right(n) =>
          System.err.println(s"perfbench: $name returned $n rows, oracle ${oracle(name)}")
          false
        case Left(e) =>
          System.err.println(s"perfbench: $name failed: $e")
          false
      }
      val mb = ctx.storage()._1
      release()
      afterRelease += ctx.storage()._1
      System.err.println(f"perfbench: $name ${(t2 - t0) / 1e9}%.3f s")
      OpRec(opId, name, t0, t2, t2 - t1, result.getOrElse(-1L), ok, mb)
    }
    // Whole passes, as many as --seconds holds at a nominal pass time (at
    // least one), so every run of a seed times the same queries whatever the
    // program's speed.
    for (_ <- 1 to math.max(1, ctx.seconds / NominalPassS)) order.foreach(n => ops += run(n))
    graft.queries.ParityQueries.releaseWarm()
    Outcome(ops.toSeq, setups.toSeq, 0, 0,
      Map("slots" -> order,
        "storage_mb_after_release" -> afterRelease.toSeq,
        "storage_mb_after_close" -> ctx.storage()._1),
      Map("storage.mb_after_release" -> Stats.median(afterRelease.toSeq)))
  }
}
