package graft.ops

import graft.spark.SparkTestSession
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** `Dedup.clusters` against a union-find oracle, its loud failure when
  * labels do not converge, and its one-job-per-round budget. */
class ClustersSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Expected (id, cluster) rows: union-find over the edges whose two
    * endpoints are non-null members of `ids`; cluster = component min. */
  private def unionFind(ids: Seq[Option[Long]], edges: Seq[(Option[Long], Option[Long])])
      : Seq[(Option[Long], Option[Long])] = {
    val parent = mutable.Map[Long, Long]()
    ids.flatten.foreach(i => parent(i) = i)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((Some(a), Some(b)) <- edges if parent.contains(a) && parent.contains(b)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => (i, i.map(find)))
  }

  private def run(ids: Seq[Option[Long]], edges: Seq[(Option[Long], Option[Long])],
                  maxIterations: Int): Seq[(Option[Long], Option[Long])] = {
    import spark.implicits._
    Dedup.clusters(ids.toDF("id"), "id", edges.toDF("id_a", "id_b"), maxIterations)
      .collect().toSeq
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long])))
  }

  private def sorted(rows: Seq[(Option[Long], Option[Long])]) =
    rows.sortBy { case (a, b) => (a.getOrElse(Long.MinValue), b.getOrElse(Long.MinValue)) }

  test("clusters equals union-find on seeded random graphs with dirty edges and ids") {
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val n = 200 + rnd.nextInt(200)
      // sparse ids in shuffled order, so labels do not follow the edges
      val universe = rnd.shuffle((0 until n).map(i => 1000L + 7L * i + rnd.nextInt(7)))
      val ids = universe.map(Option(_)) ++
        universe.take(15).map(Option(_)) ++ Seq.fill(4)(Option.empty[Long])
      def v() = Option(universe(rnd.nextInt(n)))
      val random = Seq.fill(n * 3 / 4)((v(), v()))
      // one long path in random id order: forces several jump rounds
      val path = universe.take(60).sliding(2).map(p => (Option(p(0)), Option(p(1)))).toSeq
      val dirty = random.take(20) ++ random.take(20).map(_.swap) ++
        universe.take(10).map(i => (Option(i), Option(i))) ++
        Seq((v(), None), (None, v()), (None, None)) ++
        // dangling endpoints: one below every id, one above
        Seq((Option(-5L), v()), (v(), Option(-5L)), (v(), Option(99999999L)))
      val edges = rnd.shuffle(random ++ path ++ dirty)
      val got = run(ids, edges, maxIterations = 20)
      assert(sorted(got) == sorted(unionFind(ids, edges)), s"seed $seed")
      assert(!got.exists(_._2.contains(-5L)), s"seed $seed: dangling endpoint became a label")
    }
  }

  test("clusters keeps the id type and widens cluster to the pair type") {
    import spark.implicits._
    val ids = Seq(3, 1, 2, 9).toDF("k")
    val narrow = Dedup.clusters(ids, "k", Seq((1, 2), (2, 3)).toDF("id_a", "id_b"))
    assert(narrow.schema.map(f => f.name -> f.dataType) == Seq("id" -> IntegerType, "cluster" -> IntegerType))
    assert(narrow.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 9 -> 9))
    val wide = Dedup.clusters(ids, "k", Seq((1L, 9L)).toDF("id_a", "id_b"))
    assert(wide.schema.map(_.dataType) == Seq(IntegerType, LongType))
    assert(wide.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(1 -> 1L, 2 -> 2L, 3 -> 3L, 9 -> 1L))
  }

  test("clusters throws when labels still change after maxIterations rounds") {
    import spark.implicits._
    val ids = (0L until 64L).toDF("id")
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](Dedup.clusters(ids, "id", pairs, maxIterations = 2))
    assert(e.getMessage.contains("maxIterations = 2"), e.getMessage)
  }

  test("clusters converges on a 200-vertex path in random id order within 10 rounds (root hooking)") {
    import spark.implicits._
    // without the hook, min propagation with jumping needs ~d rounds on
    // a path whose ids do not increase along it
    val path = new Random(42).shuffle((0L until 200L).toList)
    val pairs = path.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id_a", "id_b")
    val got = Dedup.clusters(path.toDF("id"), "id", pairs, maxIterations = 10).collect()
    assert(got.length == 200 && got.forall(_.getLong(1) == 0L))
  }

  test("clusters runs one Spark job per round: 2 rounds on diameter-4 chains, then the collect") {
    import spark.implicits._
    // the q_dedup_clusters shape: ids 0..49 in chains of 5, singletons above
    val ids = (0L until 120L).toDF("id")
    val pairs = (0L until 50L).filter(_ % 5 != 4).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var got = Map.empty[Long, Long]
    val jobs = SparkTestSession.jobsDuring {
      got = Dedup.clusters(ids, "id", pairs, maxIterations = 8).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == (0L until 120L).map(i => i -> (if (i < 50) i / 5 * 5 else i)).toMap)
    // round 1 (with the ids and endpoint shuffles) and round 2, which
    // finds no label a neighbour can lower; then the collect
    assert(jobs == 3, s"$jobs jobs")
  }
}
