package graft.ops

import graft.spark.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Pack.concatChunk`'s ride-along columns and its job budget. */
class PackSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** 400 ids in shuffled order with zero, giant and exact-budget counts,
    * a null count, a null id, and a string column with nulls. */
  private def input = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((0 until 400).toList).map { i =>
      val n = i % 9 match {
        case 0 => Some(0L)
        case 1 => Some(900L + i)
        case 2 => Some(64L)
        case 3 => None
        case _ => Some((i % 53).toLong)
      }
      (Option(i.toLong), n, if (i % 5 == 0) None else Some(s"h$i"))
    } :+ ((None, Some(3L), Some("no id")))
    rows.toDF("id", "n", "tag")
  }

  test("a ride-along column equals the join-back of the (id, n) result") {
    val df = input
    Seq(2, 7, 32).foreach { p =>
      val rideAlong = Pack.concatChunk(df, "id", "n", budget = 64, partitions = p)
      assert(rideAlong.columns.toSeq ==
        Seq("id", "n_tokens", "start_offset", "chunk_start", "chunk_end", "tag"))
      val joined = Pack.concatChunk(df.select("id", "n"), "id", "n", budget = 64, partitions = p)
        .join(df.select(col("id").cast("long").as("id"), col("tag")), "id")
      val got = rideAlong.collect().map(_.toSeq).toSet
      val expected = joined.collect().map(_.toSeq).toSet
      assert(got.size == 400 && got == expected, s"partitions=$p: " +
        s"missing=${expected -- got take 3} extra=${got -- expected take 3}")
    }
  }

  test("concatChunk runs its range sketch and pass 1, then the consumer's job") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, i % 7)).toDF("id", "n")
    var rows = 0
    val jobs = SparkTestSession.jobsDuring {
      rows = Pack.concatChunk(df, "id", "n", budget = 16, partitions = 4).collect().length
    }
    assert(rows == 300)
    assert(jobs == 3, s"$jobs jobs")
  }
}
