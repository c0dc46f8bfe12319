package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Adversarial graph shapes for the graph-operator oracles: sparse,
  * label-permuted paths, trees and stars, and mid-range hubs. Each sample
  * is meant to run ALONE: batched with other components, an exit test over
  * the whole edge set rarely fires while some component is still
  * shrinking, which hides an unsound exit; an isolated small component
  * exposes it.
  */
object GraphShapes {

  /** `n` node labels in random order: the label order (which decides the
    * component min and every star round's min-link) is unrelated to the
    * graph's shape.
    */
  def permutedLabels(n: Int): Gen[Vector[String]] =
    Gen.listOfN(n, Gen.long).map(keys => (0 until n).map(i => f"n$i%02d").zip(keys).sortBy(_._2).map(_._1).toVector)

  /** Randomly oriented edge. */
  private def oriented(a: String, b: String): Gen[(String, String)] = Gen.oneOf((a, b), (b, a))

  val path: Gen[Seq[(String, String)]] = for {
    n <- Gen.choose(4, 10)
    ls <- permutedLabels(n)
    es <- Gen.sequence[Seq[(String, String)], (String, String)](ls.sliding(2).map(p => oriented(p(0), p(1))).toSeq)
  } yield es

  /** Random recursive tree: node i attaches to a uniform earlier node. */
  val tree: Gen[Seq[(String, String)]] = for {
    n <- Gen.choose(4, 30)
    ls <- permutedLabels(n)
    parents <- Gen.sequence[Seq[Int], Int]((1 until n).map(i => Gen.choose(0, i - 1)))
    es <- Gen.sequence[Seq[(String, String)], (String, String)](
      parents.zipWithIndex.map { case (p, i) => oriented(ls(p), ls(i + 1)) }
    )
  } yield es

  val star: Gen[Seq[(String, String)]] = for {
    n <- Gen.choose(5, 40)
    ls <- permutedLabels(n)
    es <- Gen.sequence[Seq[(String, String)], (String, String)](ls.tail.map(oriented(ls.head, _)))
  } yield es

  def samples(gen: Gen[Seq[(String, String)]], n: Int, seed: Long): Seq[Seq[(String, String)]] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  /** 12 paths, 4 trees and 4 stars: the standard adversarial battery. */
  def shapes: Seq[Seq[(String, String)]] = samples(path, 12, 100L) ++ samples(tree, 4, 200L) ++ samples(star, 4, 300L)

  /** `leaves` leaves on each side of `hub` in label order, randomly
    * oriented: the hub is the min neighbour of the upper leaves and
    * collects one row per neighbour in both stars.
    */
  def hubStar(prefix: String, leaves: Int, rng: scala.util.Random): Seq[(String, String)] = {
    val hub = f"$prefix$leaves%05d"
    (0 to 2 * leaves).filter(_ != leaves).map { i =>
      val leaf = f"$prefix$i%05d"
      if (rng.nextBoolean()) (hub, leaf) else (leaf, hub)
    }
  }

  /** Two mid-range 2k-leaf hubs bridged by a label-permuted 6-node path
    * whose labels spread over (and below) the hubs' label range, so the
    * component min sits inside the path, away from either hub.
    */
  def twoHubBridge(seed: Long): Seq[(String, String)] = {
    val rng = new scala.util.Random(seed)
    val bridge = rng.shuffle(Seq("m9999", "n00500b", "n03000b", "o01000b", "o03500b", "p0000"))
    val path = ("n02000" +: bridge :+ "o02000").sliding(2).map(p => (p(0), p(1))).toSeq
    hubStar("n", 2000, rng) ++ hubStar("o", 2000, rng) ++ path
  }

  /** Runs `check` on every case, four at a time: each case is still its
    * own operator call; only the job-scheduling waits of different calls
    * overlap.
    */
  def eachConcurrently[A](cases: Seq[A])(check: A => Unit): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(cases)(c => Future(check(c))), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }
}
