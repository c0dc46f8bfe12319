package graft.tools

import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

/** Dev loop: how do candidate-pair counts scale with corpus size, per
  * blocking/LSH family? Quadratic growth hiding under the per-block salt
  * cap shows up here as a pair/doc ratio that climbs with N. Probes ALL
  * candidate-generating key families:
  *   - the three ER blocking strategies (canonical url, 2-token domain,
  *     MinHash bands) + their salted total,
  *   - the SimHash chunk-combination keys (Dedup.simHashKeys),
  *   - embedding sign-LSH with corpus-sized (bits, tables) from lshPlan
  *     (the embeddingNearDupAuto scale path), candidate pairs counted
  *     before the cosine verify.
  * Usage:
  *   sbt 'runMain graft.tools.ScaleProbe 100000 300000 1000000'
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(100000, 300000, 1000000)
    val spark = LinkagePipeline.session(LinkagePipeline.defaultMaster, "scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val strategies: Seq[BlockingStrategy] =
      Seq(CanonicalUrlBlocking, DomainBlocking, MinHashBlocking())

    // `cap` = the salt/refinement threshold the FAMILY'S OPERATOR uses
    // (Blocker.pairs default 1000, simHashPairs 10000, embedding auto
    // 4x1000) so oversizedRows reports rows the operator would actually
    // split, not a one-size count
    def blockStats(name: String, docs: Long, keys: org.apache.spark.sql.DataFrame, cap: Int = 1000): Unit = {
      val blocks = keys.groupBy("key").agg(count(lit(1)).as("n"))
      val st = blocks
        .agg(
          count(lit(1)).as("blocks"),
          max("n").as("maxBlock"),
          sum((col("n") * (col("n") - 1) / 2).cast("long")).as("rawPairs"),
          sum(when(col("n") > cap, col("n")).otherwise(0)).as("oversizedRows")
        )
        .collect()(0)
      println(
        f"[scale] n=$docs%8d $name%-12s blocks=${st.getLong(0)}%9d maxBlock=${st.getLong(1)}%7d " +
          f"rawPairs=${st.getLong(2)}%12d pairs/doc=${st.getLong(2).toDouble / docs}%8.2f " +
          f"oversizedRows=${Option(st.get(3)).map(_.toString).getOrElse("0")}"
      )
    }

    // SPARK_GRAFT_PROBE_ONLY=er|simhash|emb|span restricts the probe to one
    // family (dev loop); unset runs all of them. Every family carries its
    // own fam(...) gate — an unknown value runs nothing rather than
    // silently running the wrong families.
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
    def fam(name: String): Boolean = only.forall(_ == name)

    sizes.foreach { n =>
      val cfg = WebCorpus.Config(numClusters = n / 4)
      val pages = WebCorpus.pages(spark, cfg).toDF().select("url", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val docs = pages.count()

      // family 6: the span-dedup window stream (exact-substring dedup).
      // Window ROWS are linear by construction (one per word offset); the
      // only corpus-size-dependent quantity is the duplicated-window
      // SHARE, capped at 1.0 — so the removal pass is at worst one extra
      // linear scan. Measured here so the cap claim has numbers.
      if (fam("span")) {
        val wins = pages
          .select(col("url"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 8)
          .select(
            explode(
              expr("transform(sequence(0, size(w) - 8), i -> xxhash64(array_join(slice(w, i + 1, 8), ' ')))")
            ).as("h")
          )
        val st = wins
          .groupBy("h")
          .agg(count(lit(1)).as("c"))
          .agg(
            sum("c").as("windows"),
            sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup")
          )
          .collect()(0)
        val windows = st.getLong(0)
        val dup = st.getLong(1)
        println(
          f"[scale] n=$docs%8d spanDedup windows=$windows%12d win/doc=${windows.toDouble / docs}%6.1f " +
            f"dupWindows=$dup%12d dupShare=${dup.toDouble / windows}%.4f"
        )
      }
      // family 1-3: the ER blocking strategies
      if (fam("er")) {
        strategies.foreach { s =>
          blockStats(s.name, docs, s.keys(pages).select("url", "key").distinct())
        }
        val allPairs = Blocker.pairs(Blocker.allKeys(pages, strategies), 1000).count()
        println(f"[scale] n=$docs%8d TOTAL salted+deduped pairs=$allPairs%12d ratio=${allPairs.toDouble / docs}%.1f")
      }

      // family 4: SimHash chunk-combination keys (near-dup d<=3)
      if (fam("simhash")) {
        blockStats("simhash_c3", docs, Dedup.simHashKeys(pages, "url", maxHamming = 3), cap = 10000)
        val shPairs = Dedup.simHashPairs(pages, "url", maxHamming = 3).count()
        println(f"[scale] n=$docs%8d simhash verified pairs=$shPairs%12d ratio=${shPairs.toDouble / docs}%.2f")
      }

      if (fam("emb")) {
      // family 5: embedding sign-LSH at the lshPlan-derived (bits, tables)
      // — synthetic 16-dim vectors, deterministic per id. Raw bucket-join
      // volume (sum n*(n-1)/2 over (table, bucket) blocks) is computed from
      // block SIZES — one (id, key) shuffle, no pair materialization — and
      // is exactly the candidate volume embeddingNearDupAuto's verify join
      // would ship. The auto plan's claim: bounded by ~targetBucketRows x
      // tables / 2 per doc at ANY corpus size (a fixed `bits` would grow
      // linearly with n instead).
      val e = spark
        .range(docs)
        .select(
          col("id").as("vec_id"),
          transform(
            sequence(lit(1), lit(16)),
            j => pmod(xxhash64(col("id") * 16 + j), lit(1000)).cast("double") / 500.0 - 1.0
          ).as("embedding")
        )
      val plan = SimilaritySearch.lshPlan(docs, threshold = 0.9, targetBucketRows = 1000, recall = 0.95)
      val eKeys = e.select(
        col("vec_id").as("id"),
        explode(
          array((0 until plan.tables).map(t =>
            struct(
              lit(t).as("t"),
              SimilaritySearch.hyperplaneBucket(col("embedding"), plan.bits, seed = t).as("b"),
              SimilaritySearch.hyperplaneBucket(col("embedding"), 24, seed = plan.tables + t).as("extra")
            )
          ): _*)
        ).as("key")
      )
      val raw = eKeys.select(col("id").as("url"), concat(col("key.t"), lit(":"), col("key.b")).as("key"))
      blockStats(s"emb_b${plan.bits}x${plan.tables}", docs, raw, cap = 4000)
      // and the shipped plan: the same keys through the dense-cell
      // refinement (what embeddingNearDupAuto actually joins on)
      val salted = Dedup
        .saltBuckets(eKeys, cap = 4 * 1000)
        .select(col("id").as("url"), col("key").cast("string").as("key"))
      blockStats(s"emb_refined", docs, salted, cap = 4000)
      }
      pages.unpersist()
    }
    spark.stop()
  }
}
