package graft.spark

import graft.ops.{Dedup, Similarity, UrlOps}
import graft.spark.KernelRegistry.kernel
import graft.streaming.StreamingExtract
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Engine code builds its kernel calls from KernelRegistry, so it runs
  * on a session whose function registry has never seen a graft name,
  * gives the same rows as on the registered test session, and leaves
  * that registry as it found it. */
class SessionFreeKernelSpec extends AnyFunSuite {

  private lazy val registered = SparkTestSession.spark
  private val sf = "testdata_adv/sf0.001"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The same frame-building job on the registered and a fresh session:
    * rows sorted by their string form. */
  private def onBoth(fresh: SparkSession)(job: SparkSession => DataFrame)
      : (Seq[String], Seq[String]) =
    (rows(job(fresh)), rows(job(registered)))

  test("engine helpers, a drain and SparkEntry queries run on a never-registered session") {
    val fresh = registered.newSession()
    assert(registered.catalog.functionExists("graft_ngrams"))
    assert(!fresh.catalog.functionExists("graft_ngrams"))

    def job(name: String)(f: SparkSession => DataFrame) = name -> f
    val jobs = Seq(
      job("Similarity.cosine") { s =>
        import s.implicits._
        Seq((1L, Array(1f, 2f, 2f), Array(2f, 1f, 2f)), (2L, Array(1f, 0f), Array(1f)))
          .toDF("id", "a", "b")
          .select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      },
      job("UrlOps.registrableDomainPsl") { s =>
        import s.implicits._
        Seq("a.example.com", "USER.GitHub.io", "deep.x.y.ck", "").toDF("host")
          .select(col("host"), UrlOps.registrableDomainPsl(col("host")).as("d"))
      },
      job("Pipeline.extractColumnar") { s =>
        Pipeline.extractColumnar(CorpusGen.inputDs(s, 60, parallelism = 2).toDF(), Pipeline.Config())
      },
      job("Dedup.simhashCandidates") { s =>
        import s.implicits._
        val texts = Seq("the quick brown fox jumps over the lazy dog",
          "the quick brown fox jumps over the lazy dog", "an unrelated line of words",
          "the quick brown fox jumped over the lazy dog", "")
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
          .transform(Dedup.simhashCandidates(_, "doc_id", "text", maxHamming = 3))
      },
      job("StreamingExtract.composeSegmentsDrain") { s =>
        import s.implicits._
        val recs = (0 until 6).map(i => (i.toLong, s"https://t/$i", "2026-01-01T00:00:00Z",
          "b" * (50 + i))).toDF("doc_id", "uri", "date", "body")
        StreamingExtract.composeSegmentsDrain(
          Seq(recs.filter($"doc_id" < 3), recs.filter($"doc_id" >= 3)), budget = 300L)
      }
    ) ++ Seq("q_html_attrs", "q_lang_id", "q_fingerprint").map { q =>
      job(q)(graft.SparkEntry.queries(q)(_, sf))
    }

    jobs.foreach { case (name, job) =>
      val (got, want) = onBoth(fresh)(job)
      assert(want.nonEmpty, s"$name: no rows on the registered session")
      assert(got == want, s"$name: fresh session differs from the registered one")
    }
    assert(!fresh.catalog.functionExists("graft_ngrams"),
      "building kernel columns must not register functions")
  }

  test("kernel(): an unknown name or a bad literal fails at column build") {
    val unknown = intercept[IllegalArgumentException](kernel("graft_no_such_kernel", col("x")))
    assert(unknown.getMessage.contains("graft_no_such_kernel"))
    intercept[IllegalArgumentException](kernel("graft_ngrams", col("t"), lit(0)))
    intercept[IllegalArgumentException](kernel("graft_ngrams", col("t")))
    val ok = registered.range(1).select(kernel("graft_ngrams", lit("a b c"), lit(2)))
    assert(ok.collect().head.getSeq[String](0) == Seq("a b", "b c"))
  }
}
