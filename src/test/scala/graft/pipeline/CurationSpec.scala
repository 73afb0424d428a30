package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the curation chain's two cut modes to the SAME result: the
  * default executor-local `localCheckpoint` cuts (bench/oracle path)
  * and the reliable `checkpoint(dir)` cuts a real cluster needs (lost
  * executors cannot kill the 8-stage lineage) — round-6 VERDICT stretch
  * #8. The chain itself is oracle-gated end to end as
  * `pipeline_curate`; this spec only has to prove mode equivalence.
  */
class CurationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def docs = CurationSpec.docs

  test("curation chain: reliable-checkpoint cuts produce exactly the " +
      "localCheckpoint result") {
    val local = Curation.pipeline().transform(docs)
      .orderBy("doc_id").collect()
    assert(local.nonEmpty)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curation-ckpt").toString
    val reliable = Curation.pipeline(checkpointDir = Some(dir))
      .transform(docs).orderBy("doc_id").collect()
    assert(reliable.toSeq == local.toSeq)
    // reliable cuts write checkpoint FILES (proof the reliable path
    // ran). They land in the session's EFFECTIVE checkpoint dir: the
    // first setter in the shared session wins (never-clobber, same
    // convention as connectedComponents), which may be another spec's
    val eff = java.nio.file.Paths.get(new java.net.URI(
      spark.sparkContext.getCheckpointDir.get).getPath)
    assert(java.nio.file.Files.walk(eff).count() > 1)
  }

  test("curation chain: bloom decontamination mode produces exactly the " +
      "exact-join result") {
    val exact = Curation.pipeline().transform(docs)
      .orderBy("doc_id").collect()
    assert(exact.nonEmpty)
    val bloom = Curation.pipeline(bloomDecontaminate = true)
      .transform(docs).orderBy("doc_id").collect()
    assert(bloom.toSeq == exact.toSeq)
  }
}

object CurationSpec {

  /** The chain's fixture: 60 docs in 3-doc near-dup clusters (for the CC
    * stage), alternating `en` / `de`.
    */
  def docs: DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    (0L until 60L).map { id =>
      val cluster = id / 3
      val text = (1 to 24).map(i => s"t${cluster}x$i").mkString(" ")
      (id, if (id % 2 == 0) "en" else "de", text)
    }.toDF("doc_id", "lang", "text")
  }
}
