package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The at-least-once contract of the stored vector code tables: a replayed
  * append leaves byte-identical duplicate code rows, and every query reads
  * through one set-semantics view, so a table that took a delta twice
  * answers exactly like one that took it once — before and after a forget.
  */
class CodeTableSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val probe: Seq[Float] =
    emb.filter(col("vec_id") === 1).select("embedding").collect().head.getSeq[Float](0)
  private lazy val cb = PqIndex.codebookOf(emb)
  private lazy val cents = IvfPqIndex.centroidsOf(emb)
  private lazy val scale = SqIndex.train(emb)

  /** One stored code family: build, batch ingest, forget and a probe's top-5. */
  private case class Family(name: String, build: (DataFrame, String) => Unit,
                            ingest: (DataFrame, String) => Unit,
                            forget: (String, DataFrame) => Unit,
                            query: String => Seq[Row])

  private val families = Seq(
    Family("PQ", PqIndex.build(_, cb, _), PqIndex.ingest(_, cb, _),
      PqIndex.forget(spark, _, _),
      p => PqIndex.query(spark, p, PqIndex.adcLut(probe, cb), topN = 5).collect().toSeq),
    Family("SQ", SqIndex.build(_, scale, _), SqIndex.ingest(_, _),
      SqIndex.forget(spark, _, _),
      p => SqIndex.query(spark, p, probe, topN = 5).collect().toSeq),
    Family("IVF-PQ", IvfPqIndex.build(_, cents, cb, _), IvfPqIndex.ingest(_, cents, cb, _),
      IvfPqIndex.forget(spark, _, _),
      p => IvfPqIndex.query(spark, p, probe, cents, cb, topN = 5).collect().toSeq),
    Family("IVF-SQ", IvfSqIndex.build(_, cents, scale, _), IvfSqIndex.ingest(_, cents, _),
      IvfSqIndex.forget(spark, _, _),
      p => IvfSqIndex.query(spark, p, probe, cents, topN = 5).collect().toSeq))

  for (f <- families)
    test(s"${f.name}: a delta ingested twice answers as if ingested once, before and after forget") {
      // the probe's own vector is in the delta, so an undeduplicated
      // replay would rank it twice
      val seed = emb.filter(col("vec_id") % 2 === 0)
      val delta = emb.filter(col("vec_id") % 2 === 1)
      def table(ingests: Int): String = {
        val p = Files.createTempDirectory("graft_codetable_").toString + "/idx"
        f.build(seed, p)
        (1 to ingests).foreach(_ => f.ingest(delta, p))
        p
      }
      val (replayed, once) = (table(2), table(1))
      assert(spark.read.parquet(replayed).count() ==
        spark.read.parquet(once).count() + delta.count(), "the replay left no duplicate rows")
      assert(f.query(replayed) == f.query(once))

      val gone = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
      for (p <- Seq(replayed, once)) f.forget(p, gone)
      assert(f.query(replayed) == f.query(once))
    }
}
