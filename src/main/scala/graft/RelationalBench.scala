package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.time

/** sf1 spot-bench for the RELATIONAL core (q01–q26, q12b/q17b) — the one
  * family whose scaling the per-round sf0.1 bench never measured. The
  * [[ExciseBench]] replication recipe, applied relationally: every
  * fixture table is replicated `SPARK_GRAFT_REPL`× (default 10) into a
  * temp parquet dir with CONSISTENT key offsets (orderkey/custkey/
  * partkey/suppkey/user_id/doc_id/vec_id all shift by the same
  * per-replica stride, so every join's FK structure is preserved and
  * fan-outs scale linearly); region/nation stay single copies (they are
  * the broadcast dims customer/supplier still reference). The SAME
  * query functions then run against the replicated dir — zero query
  * duplication, so the measured plans are exactly the suite's.
  *
  * Output: per-query seconds at the sf0.1 base and at the replica dir,
  * plus the ratio — a ratio well above the replication factor flags a
  * superlinear scaler. The [[ScaleBench]] family `relational`; recorded
  * in BASELINE.md.
  */
object RelationalCoreBench {
  private val OFF = 100000000L

  /** The relational core: q01..q26 incl. the q12b/q17b twins, picked by
    * the whole leading number (q100..q166 share its first two digits).
    */
  private[graft] def isCore(query: String): Boolean =
    query.drop(1).takeWhile(_.isDigit).toIntOption.exists(i => i >= 1 && i <= 26)

  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val sfDir = ctx.sfDir
    val repl = BenchHarness.env("SPARK_GRAFT_REPL", "10").toInt
    graft.functions.VectorFunctions.registerSql(spark)

    val dir = ctx.tmp
    replicate(spark, sfDir, dir, repl)

    val core = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => isCore(n) }

    def timeAll(d: String): Seq[(String, Double)] = {
      core.foreach { case (_, fn) => // warm-up, untimed
        try fn(spark, d).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      core.map { case (name, fn) =>
        name -> (try time(fn(spark, d).write.format("noop").mode("overwrite").save())._2
                 catch { case _: Throwable => -1.0 })
      }
    }

    val base = timeAll(sfDir)
    val big = timeAll(dir)
    val ratios = base.zip(big).map { case ((k, b), (_, g)) =>
      (k, if (b > 0 && g > 0) g / b else -1.0)
    }
    ("bench" -> "relational_sf1") ~ ("repl" -> repl) ~
      ("base_total" -> base.map(_._2).filter(_ >= 0).sum) ~
      ("sf1_total" -> big.map(_._2).filter(_ >= 0).sum) ~
      ("base" -> ListMap(base: _*)) ~ ("sf1" -> ListMap(big: _*)) ~
      ("ratio" -> ListMap(ratios: _*))
  }

  /** Key-consistent replication: every FK family shifts by r·OFF. */
  private def replicate(spark: SparkSession, src: String, dst: String,
                        repl: Int): Unit = {
    val shift: Map[String, Seq[String]] = Map(
      "customer"   -> Seq("c_custkey"),
      "supplier"   -> Seq("s_suppkey"),
      "part"       -> Seq("p_partkey"),
      "orders"     -> Seq("o_orderkey", "o_custkey"),
      "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events"     -> Seq("event_id", "user_id"),
      "documents"  -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    Tables.names.foreach { t =>
      // plain read for every table: Spark's writer round-trips whatever
      // timestamp logical type events.ts carries, and Tables.load probes
      // the footer on the replica just like on the original
      val raw = spark.read.parquet(s"$src/$t.parquet")
      val out = shift.get(t) match {
        case None => raw // region/nation: the shared broadcast dims
        case Some(keys) =>
          (0 until repl).map { r =>
            keys.foldLeft(raw)((d, k) => d.withColumn(k, col(k) + lit(r * OFF)))
          }.reduce(_ unionByName _)
      }
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }
}
