package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{Ann, Decontam, Dedup, Kmeans, NearDup, PlanTimeModel, Project, Sampling, SemDedup, Shard, Sketch, TextOps}

/** Behavior + plan-shape tests for the graft.ops layer.
  *
  * The plan-shape assertions are the 100-TB contract: candidate
  * generation must be a banded equi-join (no cartesian product), the
  * ANN query side must be broadcast (corpus never shuffles for
  * brute-force), and top-k must use the rank-limit form Spark plans as
  * WindowGroupLimit (per-group partial limit before the shuffle).
  */
class OpsSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private lazy val docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The quick  brown fox jumps over the lazy dog"), // exact dup after normalize
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup
    (4L, "el perro grande corre por la calle de la ciudad"),
    (5L, "completely different text about spark query engines")
  ).toDF("doc_id", "text")

  private def executedPlan(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes the physical plan
    df.queryExecution.executedPlan.toString
  }

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` set to
    * `bytes`, then restores the session's previous setting.
    */
  private def withBroadcastThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Whether a clusters output carries the driver finish's `(u, root)`
    * label map as a local relation.
    */
  private def hasLabelMap(clusters: DataFrame): Boolean =
    clusters.queryExecution.analyzed.exists {
      case r: LocalRelation => r.output.map(_.name) == Seq("u", "root")
      case _ => false
    }

  private lazy val vecs: DataFrame = {
    // 8-dim unit-ish vectors: ids 0..9; id i and i+5 are near-parallel.
    val rows = (0 until 10).map { i =>
      val base = (0 until 8).map(j => math.sin(0.7 * (i % 5) + 0.3 * j).toFloat)
      val jitter = if (i < 5) 0.0f else 0.01f
      (i.toLong, base.map(x => x + jitter).toArray)
    }
    rows.toDF("vec_id", "embedding")
  }

  // ---- behavior --------------------------------------------------------

  test("exact dedup keeps lowest id per normalized-text group") {
    val out = Dedup.exact(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(out.sameElements(Array(1L, 3L, 4L, 5L)))
  }

  test("minhash finds the planted near-dup pair and skips unrelated docs") {
    val pairs = NearDup.minhashPairs(docs, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical after normalize
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // 1-word edit
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  /** Every query `body` executes, build-time checkpoints included, with
    * the name of the action that ran it.
    */
  private def executions(body: => Unit): Seq[(String, QueryExecution)] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(f -> qe)
    }
    Bridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try body
    finally {
      Bridge.drainListenerBus(spark)
      spark.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }

  test("MinHash pairs and clusters generate no class over 64k chars") {
    def classSizes(body: => DataFrame): Seq[Int] =
      executions(body.collect()).flatMap { case (_, qe) =>
        org.apache.spark.sql.execution.debug.codegenStringSeq(qe.executedPlan).map(_._2.length)
      }
    val pairs = classSizes(NearDup.minhashPairs(docs, "text", "doc_id"))
    val clusters = classSizes(NearDup.clusters(docs, NearDup.minhashPairs(docs, "text", "doc_id"), "doc_id"))
    for ((op, sizes) <- Seq("minhashPairs" -> pairs, "clusters" -> clusters)) {
      assert(sizes.nonEmpty, op)
      assert(sizes.max <= 64000, s"$op generated classes of ${sizes.sorted.reverse.mkString(", ")} chars")
    }
  }

  test("clusters checkpoints the pairs plan once and reads both edge directions from it") {
    // the checkpoint runs the pairs plan as given (no Union of two
    // swapped copies); the driver finish's collect sees both directions
    // of every in-frame pair, duplicates included, and rows with a null
    // endpoint label nothing, on either path
    def leaves(df: DataFrame): Int = df.queryExecution.analyzed.collectLeaves().size
    def opt(r: org.apache.spark.sql.catalyst.InternalRow, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val minhash = NearDup.minhashPairs(docs, "text", "doc_id")
    val given = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (1L, 2L), (2L, 3L), (null, 4L), (5L, null), (null, null), (7L, 1L)).toDF("id_a", "id_b")
    for (pairs <- Seq(minhash, given)) {
      val ran = executions(NearDup.clusters(docs, pairs, "doc_id"))
      val ckpt = ran.collect { case ("localCheckpoint", qe) => qe }
      assert(ckpt.size == 1)
      assert(ckpt.head.optimizedPlan.collect { case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.isEmpty,
        ckpt.head.optimizedPlan.treeString)
      assert(ckpt.head.analyzed.collectLeaves().size == leaves(pairs), ckpt.head.analyzed.treeString)
      val edges = ran.collect { case (PlanTimeModel.ExecutionName, qe) => qe }
      assert(edges.size == 1)
      val got = edges.head.executedPlan.executeCollect().map(r => (opt(r, 0), opt(r, 1))).toSeq
      val ids = Set(1L, 2L, 3L, 4L, 5L)
      val want = pairs.collect().toSeq.flatMap { r =>
        val (a, b) = (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]))
        Seq((a, b), (b, a))
      }.filter { case (u, v) => u.exists(ids) && v.exists(ids) }
      assert(got.sortBy(_.toString) == want.sortBy(_.toString))
    }
    val labels = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L)
    assert(NearDup.clusters(docs, given, "doc_id").as[(Long, Long)].collect().toMap == labels)
    assert(withBroadcastThreshold(-1)(NearDup.clusters(docs, given, "doc_id").as[(Long, Long)].collect().toMap) == labels)
  }

  test("dropNearDuplicates keeps only non-dominated ids") {
    val pairs = NearDup.minhashPairs(docs, "text", "doc_id")
    val kept = NearDup.dropNearDuplicates(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted
    // 2 and 3 are near-dups of 1 → dropped; 1, 4, 5 survive
    assert(kept.sameElements(Array(1L, 4L, 5L)))
  }

  test("ngram jaccard of identical normalized docs is 1.0") {
    val m = NearDup.ngramJaccardPairs(docs, "text", "doc_id")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 2L)) == 1.0)
  }

  test("simhash of identical normalized docs has hamming 0") {
    val m = NearDup.simhashPairs(docs, "text", "doc_id")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 2L)) == 0)
  }

  test("brute-force ANN ranks the parallel vector first") {
    val out = Ann.bruteTopK(vecs, vecs.filter($"vec_id" === 0), "embedding", "vec_id", k = 3)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(out.head == 5L) // id 5 = id 0 + tiny jitter → highest cosine
    assert(out.length == 3)
  }

  test("LSH ANN finds the same top candidate as brute force") {
    val brute = Ann.bruteTopK(vecs, vecs.filter($"vec_id" === 0), "embedding", "vec_id", k = 1)
      .select("vec_id").as[Long].collect().head
    val lsh = Ann.lshTopK(vecs, vecs.filter($"vec_id" === 0), "embedding", "vec_id", dim = 8, k = 1)
      .select("vec_id").as[Long].collect().head
    assert(lsh == brute)
  }

  test("LSH ANN recall on planted near neighbors stays above the geometry floor") {
    // The geometry contract (Ann.lshTopK doc): recall is bought with
    // band COUNT. The gate cannot catch a recall trade (the DuckDB
    // oracle mirrors any geometry), so this assertion pins it instead.
    //
    // Probe design: the sf0.001 embeddings are near-uniform (brute top-5
    // cosines cluster at ~0.33, where ANY bucket-bounded sign-LSH has
    // single-digit recall by math — overall recall@5 vs brute is the
    // wrong yardstick). LSH's actual promise is recall on GENUINELY
    // near neighbors, so plant them: q = v + 0.48·w (w = the vector 37
    // ids over) puts the source vector at cos ≈ 0.90 (θ ≈ 26°) from
    // each query. Measured planted-neighbor recall, deterministic:
    //   16/4 (pre-r9):  0.942  — high recall but quadratic candidates
    //   32/8 (r9):      0.688  — the silent 4-band recall trade
    //   56/8 (current): 0.818  — 7 bands, buckets stay 256
    // Floor 0.80 admits the current default and rejects the r9 shape.
    val emb = graft.sources.Tables.parquetDir(spark, "/root/testdata/sf0.001")("embeddings")
    val partner = emb.select(col("vec_id").as("pid"), col("embedding").as("pemb"))
    val queries = emb.join(partner, col("vec_id") + 37 === col("pid"))
      .select(
        (col("vec_id") + 10000000).as("vec_id"),
        zip_with(col("embedding"), col("pemb"), (x, y) => x + lit(0.48) * y).as("embedding"))
      .filter(col("vec_id") % 3 === 0)
    val planted = Ann.bruteTopK(emb, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .filter { case (q, id) => q - 10000000 == id }.toSet
    assert(planted.size >= 100) // brute must see essentially all planted sources
    val lsh = Ann.lshTopK(emb, queries, "embedding", "vec_id", dim = 64, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = planted.count(lsh).toDouble / planted.size
    info(f"planted-neighbor recall = $recall%.3f (${planted.count(lsh)}/${planted.size})")
    assert(recall >= 0.80, f"lshTopK planted-neighbor recall $recall%.3f < 0.80 — geometry change traded recall")
  }

  test("token stats and fingerprint agree with direct computation") {
    val t = TextOps.tokenStats(docs, "text", "doc_id").filter($"doc_id" === 1).head()
    assert(t.getAs[Long]("n_ws") == 9L)
    assert(t.getAs[Long]("n_chars") == 43L)
    val fps = TextOps.fingerprint(docs, "text", "doc_id")
      .select("doc_id", "fp_md5").as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L)) // same normalized text → same fingerprint
    assert(fps(1L) != fps(3L))
  }

  test("language id: english vs spanish; zero-signal text is und, not en") {
    val m = TextOps.languageId(docs, "text", "doc_id")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(m(1L) == "en")
    assert(m(4L) == "es")
    val numeric = Seq((9L, "12345 67890 ++--")).toDF("doc_id", "text")
    val und = TextOps.languageId(numeric, "text", "doc_id")
      .select("lang_pred").as[String].head()
    assert(und == "und")
  }

  test("pii scrub counts and redacts emails, phones, ips") {
    val pii = Seq(
      (1L, "contact bob@example.com or 555-123-4567, server at 10.0.0.1"),
      (2L, "no pii here at all"),
      (3L, "电话555-123-4567"), // CJK-adjacent: explicit ASCII boundaries match in Java AND RE2
      (4L, "12345-678-9012 is not a phone")
    ).toDF("doc_id", "text")
    val out = TextOps.piiScrub(pii, "text", "doc_id").collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1)
    assert(out(1L).getAs[Long]("n_phones") == 1)
    assert(out(1L).getAs[Long]("n_ips") == 1)
    assert(out(1L).getAs[String]("redacted") == "contact <EMAIL> or <PHONE>, server at <IP>")
    assert(out(2L).getAs[String]("redacted") == "no pii here at all")
    assert(out(3L).getAs[Long]("n_phones") == 1)
    assert(out(3L).getAs[String]("redacted") == "电话<PHONE>")
    assert(out(4L).getAs[Long]("n_phones") == 0) // digit-run prefix is not a number boundary
  }

  test("repetition stats: distinct ratio and top-token mass") {
    val rep = Seq((1L, "a a a b c"), (2L, "all words differ here")).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(rep, "text", "doc_id").collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_words") == 5 && out(1L).getAs[Long]("n_distinct") == 3)
    assert(math.abs(out(1L).getAs[Double]("rep_ratio") - 0.4) < 1e-12)
    assert(math.abs(out(1L).getAs[Double]("top_word_frac") - 0.6) < 1e-12)
    assert(out(2L).getAs[Double]("rep_ratio") == 0.0)
  }

  test("clusters propagates the min label transitively (chain needs >1 round)") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // chain 1-2-3-7 (7 is three hops from 1) + pair 5-6 + singleton 4
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 6L)).toDF("id_a", "id_b")
    val out = NearDup.clusters(ids, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("clusters converges on a chain far longer than the round count (pointer jumping)") {
    // 40-node path graph: diameter 39. Hop-only propagation moves the
    // min label ONE hop per round, so 6 (or even 8) rounds would leave
    // the far end labeled with an intermediate id — the silent
    // split-cluster defect. Pointer jumping covers 2^6-1 = 63 hops in
    // 6 rounds.
    val n = 40
    val ids = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = NearDup.clusters(ids, pairs, "doc_id", iterations = 6)
      .as[(Long, Long)].collect().toMap
    assert(out.size == n)
    assert(out.values.forall(_ == 1L), s"unconverged labels: ${out.filter(_._2 != 1L)}")
  }

  test("clusters stops at the first no-op round; early stop is output-identical (round 20)") {
    // a triangle + singleton settles in round 1 (round 2 detects the
    // no-op and skips rounds 3-6); the 40-node chain keeps changing
    // labels through the cap. Same session, same code path — the
    // clique run must submit strictly fewer Spark jobs. The round jobs
    // belong to the distributed rounds, so broadcasting (and with it
    // the driver finish, which runs no per-round job) is disabled.
    val cliqueIds = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val cliquePairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    var clique: Map[Long, Long] = null
    val cliqueJobs = withBroadcastThreshold(-1)(jobsFor("cc-clique") {
      clique = NearDup.clusters(cliqueIds, cliquePairs, "doc_id", iterations = 6)
        .as[(Long, Long)].collect().toMap
    })
    assert(clique == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    val chainIds = (1L to 40L).toDF("doc_id")
    val chainPairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var chain: Map[Long, Long] = null
    val chainJobs = withBroadcastThreshold(-1)(jobsFor("cc-chain") {
      chain = NearDup.clusters(chainIds, chainPairs, "doc_id", iterations = 6)
        .as[(Long, Long)].collect().toMap
    })
    assert(chain.values.forall(_ == 1L))
    assert(cliqueJobs < chainJobs,
      s"early termination did not cut rounds: clique=$cliqueJobs chain=$chainJobs jobs")
  }

  test("clusters driver finish runs the 40-chain in a few jobs, not one per round") {
    // the distributed rounds spend two checkpoint jobs and a change
    // test per round (52 jobs on this chain with broadcasting off); the
    // driver finish spends the edge checkpoint, one collect and the
    // final query (7 jobs)
    val chainIds = (1L to 40L).toDF("doc_id")
    val chainPairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var chain: Map[Long, Long] = null
    val jobs = jobsFor("cc-chain-driver") {
      chain = NearDup.clusters(chainIds, chainPairs, "doc_id", iterations = 6)
        .as[(Long, Long)].collect().toMap
    }
    assert(chain.size == 40 && chain.values.forall(_ == 1L))
    assert(jobs <= 8, s"driver finish ran $jobs jobs")
  }

  test("clusters driver finish matches the distributed rounds (table-driven parity)") {
    val chain40 = ((1L to 40L).toDF("doc_id"), (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    val chain100 = ((1L to 100L).toDF("doc_id"), (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    val chain200 = ((1L to 200L).toDF("doc_id"), (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    val clique = ((1L to 8L).toDF("doc_id"),
      (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toDF("id_a", "id_b"))
    val ints = ((1 to 9).toDF("doc_id"), Seq((9, 4), (4, 7), (7, 2), (5, 6)).toDF("id_a", "id_b"))
    // UTF-8 byte order (Spark's): "z" < "ﬁ" (EF AC 81) < "😀" (F0 9F 98 80);
    // Java's UTF-16 compareTo puts "😀" (D83D …) before "ﬁ" (FB01)
    val strings = (Seq("ﬁ", "😀", "z", "y", "\uFFFF").toDF("doc_id"),
      Seq(("😀", "ﬁ"), ("😀", "\uFFFF"), ("y", "z")).toDF("id_a", "id_b"))
    val nulls = (Seq(Some(1L), Some(2L), Some(3L), Some(4L), None).toDF("doc_id"),
      Seq((Some(1L), None), (None, Some(2L)), (Some(3L), Some(4L)), (None, None))
        .toDF("id_a", "id_b"))
    val absent = ((1L to 5L).toDF("doc_id"),
      Seq((1L, 2L), (2L, 99L), (99L, 3L), (3L, 4L), (98L, 97L)).toDF("id_a", "id_b"))
    val empty = ((1L to 3L).toDF("doc_id"), Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    val cases = Seq("40-chain" -> chain40, "100-chain" -> chain100,
      "200-chain" -> chain200, "clique + singletons" -> clique,
      "Int ids" -> ints, "UTF-8 vs UTF-16 string order" -> strings, "null id_a/id_b" -> nulls,
      "endpoints absent from df" -> absent, "empty pairs" -> empty)
    def run(ids: DataFrame, pairs: DataFrame): (Map[Any, Any], Boolean) = {
      val out = NearDup.clusters(ids, pairs, "doc_id", iterations = 6)
      (out.collect().map(r => r.get(0) -> r.get(1)).toMap, hasLabelMap(out))
    }
    for ((name, (ids, pairs)) <- cases) {
      val (driver, local) = run(ids, pairs)
      val (distributed, distLocal) = withBroadcastThreshold(-1)(run(ids, pairs))
      assert(local && !distLocal, s"$name: driver path ran = $local, with broadcast off = $distLocal")
      assert(driver == distributed, s"$name: driver $driver vs distributed $distributed")
      assert(driver.size == ids.count(), s"$name: ${driver.size} rows")
    }
    val fromDriver = run(strings._1, strings._2)._1
    assert(fromDriver("😀") == "ﬁ" && fromDriver("\uFFFF") == "ﬁ" && fromDriver("y") == "y")
    // six hop + jump rounds reach 126 hops: the 100-chain converges,
    // while the 200-chain (diameter 199) is cut off by the round cap
    assert(run(chain100._1, chain100._2)._1.values.toSet == Set(1L))
    assert(run(chain200._1, chain200._2)._1.values.toSet.size == 74)
    val absentOut = run(absent._1, absent._2)._1
    assert(absentOut == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("clusters takes the driver finish exactly when the edges fit the broadcast cap") {
    // 4 pairs → 8 directed edges; Long ids cost 2 × 8 bytes per edge
    val ids = (1L to 6L).toDF("doc_id")
    val pairs = (1L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val atCap = withBroadcastThreshold(8 * 16)(NearDup.clusters(ids, pairs, "doc_id"))
    val overCap = withBroadcastThreshold(8 * 16 - 1)(NearDup.clusters(ids, pairs, "doc_id"))
    assert(hasLabelMap(atCap), "8 edges under an 8-edge cap did not finish on the driver")
    assert(!hasLabelMap(overCap), "8 edges over a 7-edge cap finished on the driver")
    assert(atCap.as[(Long, Long)].collect().toMap == overCap.as[(Long, Long)].collect().toMap)
  }

  test("clusters keeps string ids intact (labels propagate in the id's own type)") {
    val ids = Seq("doc-b", "doc-a", "doc-c", "doc-z").toDF("doc_id")
    val pairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c")).toDF("id_a", "id_b")
    val out = NearDup.clusters(ids, pairs, "doc_id").as[(String, String)].collect().toMap
    assert(out == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a", "doc-z" -> "doc-z"))
  }

  test("clusters reliable-checkpoint path matches the localCheckpoint default") {
    // checkpointDir switches lineage truncation from executor-local
    // blocks to reliable FS checkpoints (what a real cluster needs to
    // survive executor loss); results must be identical either way.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    try {
      val ids = (1L to 12L).toDF("doc_id")
      val pairs = ((1L until 8L).map(i => (i, i + 1)) :+ (10L, 11L)).toDF("id_a", "id_b")
      val local = NearDup.clusters(ids, pairs, "doc_id").as[(Long, Long)].collect().toMap
      val reliable = NearDup.clusters(ids, pairs, "doc_id", checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      assert(reliable == local)
      // the reliable path actually wrote RDD checkpoint data to the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint data under $dir")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("packSequences: non-unique (id, idx) keys still sum per ROW, not per peer group") {
    import graft.ops.Packing
    // three tied rows at (1,0): a RANGE frame would give them all the
    // same running start (0 or 300); the ROWS frame assigns sequential
    // starts 0,100,200 so exactly one bin boundary lands between them
    val chunks = Seq((1L, 0, 100L), (1L, 0, 100L), (1L, 0, 100L)).toDF("doc_id", "chunk_idx", "n_tokens")
    val seqIds = Packing.packSequences(chunks, "doc_id", "chunk_idx", "n_tokens", budgetTokens = 150, nShards = 1)
      .select("seq_id").as[String].collect().sorted.toSeq
    // starts 0,100,200 → bins 0,0,1
    assert(seqIds == Seq("0-0", "0-0", "0-1"))
  }

  test("packSequences: next-fit bins by running start, partitioning-independent") {
    import graft.ops.Packing
    val chunks = Seq(
      (1L, 0, 100L), (1L, 1, 100L), (2L, 0, 100L), (3L, 0, 60L), (3L, 1, 60L)
    ).toDF("doc_id", "chunk_idx", "n_tokens")
    val out = Packing.packSequences(chunks, "doc_id", "chunk_idx", "n_tokens", budgetTokens = 128, nShards = 1)
      .select("doc_id", "chunk_idx", "seq_id").as[(Long, Int, String)].collect().toSet
    // shard 0, order (1,0)(1,1)(2,0)(3,0)(3,1), starts 0,100,200,300,360
    assert(out == Set((1L, 0, "0-0"), (1L, 1, "0-0"), (2L, 0, "0-1"), (3L, 0, "0-2"), (3L, 1, "0-2")))
    val out2 = Packing.packSequences(chunks.repartition(7), "doc_id", "chunk_idx", "n_tokens", 128, 1)
      .select("doc_id", "chunk_idx", "seq_id").as[(Long, Int, String)].collect().toSet
    assert(out2 == out)
  }

  test("chunk matches the token-slice reference on edge-shaped docs") {
    // brute-force reference: split-on-whitespace-runs token array,
    // groups of N joined by single space, empty doc → one "" chunk
    def ref(text: String, n: Int): Seq[(Int, String, Long)] = {
      // Spark's trim() strips SPACES only (Java's String.trim strips
      // all ≤0x20 — that difference is the edge under test here)
      val toks = text.replaceAll("^ +| +$", "").split("[ \\t\\n\\x0B\\f\\r]+", -1).toSeq
      toks.grouped(n).toSeq.zipWithIndex.map { case (g, i) =>
        val s = g.mkString(" ")
        (i, s, if (s.isEmpty) 0L else s.split(" ", -1).length.toLong)
      }
    }
    val docs = Seq(
      1L -> "",                                   // empty → one "" chunk
      2L -> "   ",                                // spaces-only: trim → ""
      3L -> "\none two three",                    // leading \n survives trim → leading "" token
      4L -> "one two three\t",                    // trailing \t survives trim → trailing "" token
      5L -> (1 to 3).map("t" + _).mkString(" "),  // under one chunk
      6L -> (1 to 4).map("t" + _).mkString(" "),  // exactly one chunk
      7L -> (1 to 5).map("t" + _).mkString(" "),  // one full + one short
      8L -> (1 to 12).map("t" + _).mkString("  \n "), // multi-ws runs
      9L -> (1 to 64).map("t" + _).mkString(" ")  // many chunks at n=4
    ).toDF("doc_id", "text")
    val got = TextOps.chunk(docs, "text", "doc_id", chunkTokens = 4)
      .as[(Long, Int, String, Long)].collect().toSet
    val want = (for {
      (id, text) <- Seq(
        1L -> "", 2L -> "   ", 3L -> "\none two three", 4L -> "one two three\t",
        5L -> (1 to 3).map("t" + _).mkString(" "), 6L -> (1 to 4).map("t" + _).mkString(" "),
        7L -> (1 to 5).map("t" + _).mkString(" "), 8L -> (1 to 12).map("t" + _).mkString("  \n "),
        9L -> (1 to 64).map("t" + _).mkString(" "))
      (idx, s, nt) <- ref(text, 4)
    } yield (id, idx, s, nt)).toSet
    assert(got == want)
    // chunkTokens=1 cuts after every token
    val one = TextOps.chunk(docs.filter($"doc_id" === 7L), "text", "doc_id", chunkTokens = 1)
      .as[(Long, Int, String, Long)].collect().toSet
    assert(one == ref((1 to 5).map("t" + _).mkString(" "), 1).map { case (i, s, n) => (7L, i, s, n) }.toSet)
    // null text yields no rows (posexplode of null), as before
    val withNull = Seq((10L, null: String)).toDF("doc_id", "text")
    assert(TextOps.chunk(withNull, "text", "doc_id", 4).count() == 0L)
  }

  test("urlStats counts urls, https share, and distinct lowercased domains") {
    val df = Seq(
      (1L, "see https://Example.COM/a?x=1 and http://mirror.org/b plus https://example.com/c"),
      (2L, "no links here")
    ).toDF("doc_id", "text")
    val out = TextOps.urlStats(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_urls") == 3L)
    assert(out(0).getAs[Long]("n_https") == 2L)
    assert(out(0).getAs[String]("domains") == "example.com,mirror.org")
    assert(out(1).getAs[Long]("n_urls") == 0L && out(1).getAs[String]("domains") == "")
  }

  test("stratified sampling is deterministic, rate-respecting, and partitioning-independent") {
    val df = spark.range(2000).select(
      col("id").as("doc_id"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang")
    )
    val kept = Sampling.stratified(df, "doc_id", "lang", Map("en" -> 0.2), defaultRate = 0.8)
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    // 1000 per stratum; binomial 5σ bands
    assert(byLang("en") > 140 && byLang("en") < 260, byLang)
    assert(byLang("de") > 740 && byLang("de") < 860, byLang)
    // same membership regardless of physical layout
    val ids1 = kept.select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = Sampling.stratified(df.repartition(13), "doc_id", "lang", Map("en" -> 0.2), defaultRate = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
  }

  test("lmScore: coverage is 1 in-domain under a big model, 0 for short docs, partial cross-domain") {
    val df = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat sat on the hat", "en"),
      (3L, "der hund schlief unter dem tisch", "de"),
      (4L, "word", "en"), // 1 token → no bigrams
      (5L, "", "en")
    ).toDF("doc_id", "text", "lang")
    val en = df.filter(col("lang") === "en")
    val out = TextOps.lmScore(df, en, "text", "doc_id", topK = 1000)
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // docs 1/2: every bigram is in the English model (topK covers all)
    assert(byId(1L).getAs[Double]("coverage") == 1.0)
    assert(byId(1L).getAs[Long]("n_bigrams") == 5L)
    // "the cat"/"cat sat"/"sat on"/"on the" shared by docs 1+2 → mass
    // counts model frequency 2 for those
    assert(byId(1L).getAs[Long]("model_mass") >= 9L)
    // German doc shares no bigram with the English model
    assert(byId(3L).getAs[Double]("coverage") == 0.0 &&
      byId(3L).getAs[Long]("n_bigrams") == 5L)
    // short/empty docs are present with zero counts
    assert(byId(4L).getAs[Long]("n_bigrams") == 0L && byId(4L).getAs[Double]("coverage") == 0.0)
    assert(byId(5L).getAs[Long]("n_bigrams") == 0L)
  }

  test("lmScore model cut is deterministic under partitioning") {
    val df = (0L until 400L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 7} tok${i % 5}", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val a = TextOps.lmScore(df, df.filter(col("lang") === "en"), "text", "doc_id", topK = 10)
      .orderBy("doc_id").collect().toSeq
    val b = TextOps.lmScore(df.repartition(13), df.filter(col("lang") === "en").repartition(7),
      "text", "doc_id", topK = 10).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("dupNgramStats covers tokens under within-doc repeated n-grams only") {
    val df = Seq(
      (1L, "a b c x a b c y"),   // "a b c" twice → covers 6 of 8 tokens
      (2L, "p q r s t u v w"),   // all distinct 3-grams
      (3L, "short doc"),         // under n tokens → 0/0
      (4L, "")
    ).toDF("doc_id", "text")
    val out = TextOps.dupNgramStats(df, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((8L, 6L, 6.0 / 8.0)), out(1L))
    assert(out(2L) == ((8L, 0L, 0.0)))
    assert(out(3L) == ((2L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("dupLineStats measures within-doc line repetition by count and char mass") {
    val df = Seq(
      (1L, "Spam line. unique a. Spam line. unique b. Spam line"),
      (2L, "all. distinct. lines"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextOps.dupLineStats(df, "text", "doc_id")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: 5 lines, "spam line" ×3 → 2 duplicate occurrences
    assert(out(1L)._1 == 5L && out(1L)._2 == 2L)
    assert(out(1L)._3 == 2.0 / 5.0)
    // char mass: dup chars = 2×9 ("spam line"), total = 3×9 + 8 + 8
    assert(out(1L)._4 == 18.0 / 43.0, out(1L))
    assert(out(2L) == ((3L, 0L, 0.0, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0, 0.0)))
  }

  test("shard manifest conserves totals and balances shards") {
    val df = (0L until 2000L).map(i => (i, Seq.fill(3 + (i % 5).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val m = Shard.manifest(df, "text", "doc_id", nShards = 8)
      .as[(Int, Long, Long, Long)].collect()
    assert(m.map(_._1).sorted.toSeq == (0 until 8), m.map(_._1).toSeq)
    assert(m.map(_._2).sum == 2000L)
    assert(m.map(_._3).sum == (0L until 2000L).map(i => 3 + (i % 5)).sum)
    // hash-balanced: no shard more than 2x the mean
    assert(m.map(_._2).max < 2 * 2000 / 8, m.map(_._2).toSeq)
    // deterministic assignment under partitioning
    val a = Shard.assign(df, "doc_id", 8).select("doc_id", "shard")
      .as[(Long, Int)].collect().toMap
    val b = Shard.assign(df.repartition(13), "doc_id", 8).select("doc_id", "shard")
      .as[(Long, Int)].collect().toMap
    assert(a == b)
  }

  test("KMV distinct sketch lands within its error bound on a known cardinality") {
    // 20k docs of one token each, 5000 distinct tokens
    val df = (0L until 20000L).map(i => (i, s"tok${i % 5000}")).toDF("doc_id", "text")
    val r = Sketch.distinctTokensKmv(df, "text", k = 256)
      .as[(Int, Long, Double, Long)].collect().head
    assert(r._4 == 5000L, r)
    // ~6% standard error at k=256; assert 5 sigma
    assert(math.abs(r._3 - 5000.0) / 5000.0 < 0.3, r)
  }

  test("KMV sketch tokenizes the corpus ONCE: exact and sketch sides reuse one exchange (round 20)") {
    // both outputs hang off the same vocabulary-first subtree — the
    // token distinct(), hashed and counted per hash; the guarded max
    // keeps the optimizer from specializing the sketch side (see
    // Sketch.scala). At runtime AQE must reuse the distinct() exchange
    // — the executed plan carries a reused stage and only ONE Generate
    // (tokenize) executes.
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_plan").toString
    (0L until 20000L).map(i => (i, s"tok${i % 5000}")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val pdocs = spark.read.parquet(dir)
    val df = Sketch.distinctTokensKmv(pdocs, "text", k = 256)
    val plan = executedPlan(df)
    assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
      s"exact/sketch sides do not share the tokenize subtree:\n$plan")
  }

  test("KMV sketch reports NULL, not a biased number, below k distinct hashes") {
    // 10 distinct tokens < k=256: max(h) is the 10th minimum, not the
    // 256th — the estimate would be wildly biased low-cardinality-high.
    val df = (0L until 100L).map(i => (i, s"tok${i % 10}")).toDF("doc_id", "text")
    val row = Sketch.distinctTokensKmv(df, "text", k = 256).collect().head
    assert(row.isNullAt(row.fieldIndex("est_distinct")), row)
    assert(row.getLong(row.fieldIndex("exact_distinct")) == 10L, row)
  }

  test("KMV cut variant: estimate identical to the plain form, partition-count-independent, shuffle bounded") {
    val df = (0L until 20000L).map(i => (i, s"tok${i % 5000}")).toDF("doc_id", "text")
    val plain = Sketch.distinctTokensKmv(df, "text", k = 256)
      .select("k", "kth_hash", "est_distinct").as[(Int, Long, Double)].collect().head
    val cut = Sketch.distinctTokensKmvCut(df, "text", k = 256)
      .as[(Int, Long, Double)].collect().head
    assert(plain == cut, s"$plain vs $cut")
    // the one-row result is independent of the input partitioning even
    // though each partition's bottom-k union differs
    for (p <- Seq(1, 3, 17)) {
      val r = Sketch.distinctTokensKmvCut(df.repartition(p), "text", k = 256)
        .as[(Int, Long, Double)].collect().head
      assert(r == cut, s"p=$p: $r vs $cut")
    }
    // below-k corpora degrade to NULL exactly like the plain form
    val tiny = (0L until 100L).map(i => (i, s"tok${i % 10}")).toDF("doc_id", "text")
    val row = Sketch.distinctTokensKmvCut(tiny, "text", k = 256).collect().head
    assert(row.isNullAt(row.fieldIndex("est_distinct")), row)
    // the cut really bounds what reaches the exchange: k per partition
    val hashes = df.repartition(4)
      .select(explode(NearDup.tokens($"text")).as("tok"))
      .filter(length($"tok") > 0)
      .select(xxhash64($"tok").as("h")).as[Long] // any deterministic hash: only the row BOUND is under test
    val k = 16
    val cutRows = hashes.mapPartitions { it =>
      val heap = new java.util.TreeSet[java.lang.Long]()
      while (it.hasNext) {
        val h: java.lang.Long = it.next()
        if (heap.size < k) heap.add(h)
        else if (h < heap.last()) { if (heap.add(h)) heap.pollLast() }
      }
      scala.jdk.CollectionConverters.IteratorHasAsScala(heap.iterator()).asScala.map(_.longValue)
    }.count()
    assert(cutRows <= 4L * k, cutRows)
  }

  test("subwordStats: greedy longest-match counts, code-point fallback, codegen plan") {
    val df = Seq(
      (1L, "theresting"), // th+er+es+t? — greedy walk, hand-checked below
      (2L, "xyz"),        // nothing matches → 3 oov
      (3L, "ingtion"),    // ing + tion → 2 subwords, 0 oov
      (4L, "中文字"),      // CJK: 3 code-point fallbacks
      (5L, "")
    ).toDF("doc_id", "text")
    val out = TextOps.subwordStats(df, "text", "doc_id")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // "theresting": th|er|es|t?|ing → th,er,es then "ting": no match at 't'
    // (oov), then "ing" → 5 subwords, 1 oov
    assert(out(1L) == (5L, 1L), out(1L))
    assert(out(2L) == (3L, 3L))
    assert(out(3L) == (2L, 0L))
    assert(out(4L) == (3L, 3L))
    assert(out(5L) == (0L, 0L))
    // stays inside whole-stage codegen (native expression, no UDF) —
    // over parquet, where ConvertToLocalRelation can't fold it away;
    // .collect() exercises the doGenCode path on real rows
    val pq = graft.sources.Tables.parquetDir(spark, "/root/testdata/sf0.001")("documents")
    val overParquet = TextOps.subwordStats(pq, "text", "doc_id")
    assert(overParquet.collect().length > 0)
    val plan = overParquet.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("graft_subword_counts"), plan)
  }

  test("subwordStats handles supplementary-plane code points as single fallbacks") {
    // U+1F600 is a surrogate pair in UTF-16 — must count as ONE oov
    val df = Seq((1L, "a😀b")).toDF("doc_id", "text")
    val out = TextOps.subwordStats(df, "text", "doc_id")
      .as[(Long, Long, Long)].collect().head
    assert(out == ((1L, 3L, 3L)), out) // a, emoji, b — all fallbacks
  }

  test("dedupSubstrings removes repeated k-token spans from all but the first occurrence") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // 10-token shared run
    val df = Seq(
      (1L, s"alpha $shared beta"),
      (2L, s"gamma $shared delta"), // the shared run repeats → cut here
      (3L, "totally unique words nothing repeated here at all"),
      (4L, "") // empty doc: never participates
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(df, "text", "doc_id", k = 4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1 keeps everything (its spans are the first occurrences)
    assert(out(1L) == (s"alpha $shared beta", 0L), out(1L))
    // doc 2 loses exactly the 10 shared tokens, keeps its unique ends
    assert(out(2L) == ("gamma delta", 10L), out(2L))
    assert(out(3L)._2 == 0L)
    assert(out(4L) == ("", 0L))
  }

  test("dedupSubstrings empties an exact duplicate doc and is partition-independent") {
    val df = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"), // exact dup of doc 1
      (3L, "seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(df, "text", "doc_id", k = 4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ("one two three four five six", 0L))
    assert(out(2L) == ("", 6L), out(2L)) // every token covered by a dup 4-gram
    assert(out(3L)._2 == 0L)
    val again = Dedup.dedupSubstrings(df.repartition(7), "text", "doc_id", k = 4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again == out)
  }

  test("tokenBudget keeps a per-stratum prefix within budget, deterministically") {
    val df = (0L until 600L).map { i =>
      (i, Seq.fill(5 + (i % 7).toInt)("w").mkString(" "), s"s${i % 3}")
    }.toDF("doc_id", "text", "source")
    val out = Sampling.tokenBudget(df, "text", "doc_id", "source", budgetTokens = 200L)
    val rows = out.as[(Long, String, Long, Long)].collect()
    // within budget, nonempty per stratum
    val bySrc = rows.groupBy(_._2)
    assert(bySrc.keySet == Set("s0", "s1", "s2"))
    assert(bySrc.values.forall(g => g.map(_._3).sum <= 200L))
    assert(bySrc.values.forall(g => g.map(_._4).max <= 200L))
    // cum_tok is consistent: max cum equals sum of kept tokens per stratum
    assert(bySrc.values.forall(g => g.map(_._4).max == g.map(_._3).sum))
    // partitioning-independent membership
    val a = rows.map(_._1).sorted.toSeq
    val b = Sampling.tokenBudget(df.repartition(13), "text", "doc_id", "source", 200L)
      .as[(Long, String, Long, Long)].collect().map(_._1).sorted.toSeq
    assert(a == b)
  }

  test("mixture upsamples by permille weight with deterministic membership and epochs") {
    val df = spark.range(3000).select(
      col("id").as("doc_id"),
      when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b").otherwise("c").as("source")
    )
    val out = Sampling.mixture(df, "doc_id", "source",
      permille = Map("a" -> 2500, "b" -> 0), defaultPermille = 400)
    val bySrc = out.groupBy("source").count().as[(String, Long)].collect().toMap
    // 1000 rows per source: a → 2500 ± binomial band, b → gone, c → ~400
    assert(bySrc("a") > 2400 && bySrc("a") < 2600, bySrc)
    assert(!bySrc.contains("b"), bySrc)
    assert(bySrc("c") > 320 && bySrc("c") < 480, bySrc)
    // every source-a doc appears with epochs 1..n, n ∈ {2, 3}
    val epochs = out.filter(col("source") === "a").groupBy("doc_id")
      .agg(count("*").as("n"), max("epoch").as("mx"), min("epoch").as("mn"))
      .as[(Long, Long, Int, Int)].collect()
    assert(epochs.forall { case (_, n, mx, mn) => (n == 2 || n == 3) && mx == n && mn == 1 })
    // partitioning-independent multiplicity
    val a = out.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val b = Sampling.mixture(df.repartition(17), "doc_id", "source",
      permille = Map("a" -> 2500, "b" -> 0), defaultPermille = 400)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("classifierScore: integer-logit inference, zero-token bias, partition-independent") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, ""),
      (3L, "alpha alpha alpha")
    ).toDF("doc_id", "text")
    val w = TextOps.lcgWeightTable(spark, 1024)
    val out = TextOps.classifierScore(df, w, "text", "doc_id", biasScaled = 107374182L)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._2).sameElements(Array(4L, 0L, 3L)), out.toSeq)
    // zero-token doc scores the bare bias (≈ 0.1)
    assert(math.abs(out(1)._3 - 107374182L.toDouble / (1L << 30)) == 0.0, out(1))
    // keep is exactly logit >= 0
    assert(out.forall { case (_, _, l, k) => k == (l >= 0.0) })
    // hand-check doc 3: three copies of one token → logit = bias + w(alpha)
    val alphaBucket = TextOps.hashedFeatures(df.filter($"doc_id" === 3L), "text", "doc_id")
      .select("bucket").as[Int].collect().head
    val wAlpha = w.filter($"bucket" === alphaBucket).select("w_int").as[Long].collect().head
    val expected3 = (107374182L * 3 + 3 * wAlpha).toDouble / (3L * (1L << 30)).toDouble
    assert(out(2)._3 == expected3, s"${out(2)._3} vs $expected3")
    // partitioning-independent (exact integer accumulation)
    val b = TextOps.classifierScore(df.repartition(13), w, "text", "doc_id", biasScaled = 107374182L)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out.sameElements(b))
  }

  test("classifierScoreBaked ≡ classifierScore on a dense model; lcgWeights mirrors the table; no join in the plan") {
    // Scala-side weights mirror the table generator value-for-value
    val wArr = TextOps.lcgWeights(1024)
    val wTab = TextOps.lcgWeightTable(spark, 1024)
      .orderBy("bucket").select("w_int").as[Long].collect()
    assert(wArr.sameElements(wTab))

    // identical inference output on real corpus text (sf0.001 docs)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaJoin = TextOps.classifierScore(
      docs, TextOps.lcgWeightTable(spark, 1024), "text", "doc_id", biasScaled = -53687091L)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    val baked = TextOps.classifierScoreBaked(
      docs, wArr, "text", "doc_id", biasScaled = -53687091L)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(viaJoin.sameElements(baked))

    // the point of baking: the token→weight lookup is a literal array
    // index — and since round 19 the whole per-doc accumulation fuses
    // row-locally (graft_classifier_acc), so the plan has NO join and
    // NO aggregate at all (the zero-token join-back became the
    // null-array coalesce)
    val plan = TextOps.classifierScoreBaked(docs, wArr, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.split("join").length - 1 == 0, plan)
    assert(plan.contains("graft_classifier_acc"), plan)

    // a SPARSE model must still count every token: drop half the
    // buckets from the table — n_tok must match the dense run
    val sparse = TextOps.lcgWeightTable(spark, 1024).filter($"bucket" % 2 === 0)
    val sparseOut = TextOps.classifierScore(docs, sparse, "text", "doc_id")
      .select("doc_id", "n_tok").as[(Long, Long)].collect().toMap
    val denseNtok = baked.map(r => r._1 -> r._2).toMap
    assert(sparseOut == denseNtok)
  }

  test("tokenBudgetHistogram stays within budget and needs no per-stratum scan") {
    val df = (0L until 2000L).map(i => (i, "w " * (1 + (i % 7)).toInt, s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val budget = 500L
    val out = Sampling.tokenBudgetHistogram(df, "text", "doc_id", "source", budget)
    val byStratum = out.groupBy("source").agg(sum("n_tok").as("t"))
      .as[(String, Long)].collect().toMap
    assert(byStratum.nonEmpty)
    // strict: realized mass never exceeds the budget, and the whole-
    // bucket cut keeps it near the budget (within a few buckets' mass)
    assert(byStratum.values.forall(t => t <= budget && t > budget / 2), byStratum)
    // deterministic under repartitioning (integer masses + thresholds)
    val b = Sampling.tokenBudgetHistogram(df.repartition(13), "text", "doc_id", "source", budget)
      .as[(Long, String, Long)].collect().toSet
    assert(out.as[(Long, String, Long)].collect().toSet == b)
    // the data-sized side of the plan carries no Window (only the tiny
    // histogram does) — assert no window executes over the base rows:
    // the single WindowExec input must be the aggregated histogram
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan) // cut joins map-side
  }

  test("tokenBudgetAuto crosses from the exact form to the histogram at the stratum floor") {
    val df = (0L until 2000L).map(i => (i, "w " * (1 + (i % 7)).toInt, s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val budget = 500L
    // below the floor (default: ~667 rows/stratum « 100k) the auto form
    // IS the exact form, minus the cum_tok audit column
    val auto = Sampling.tokenBudgetAuto(df, "text", "doc_id", "source", budget)
      .as[(Long, String, Long)].collect().toSet
    val exact = Sampling.tokenBudget(df, "text", "doc_id", "source", budget)
      .select("doc_id", "source", "n_tok").as[(Long, String, Long)].collect().toSet
    assert(auto == exact)
    // above the floor it IS the histogram form: one real stratum of
    // ExactMaxStratumRows + 1 rows beside a small one
    val big = spark.range(0L, Sampling.ExactMaxStratumRows + 1 + 300)
      .select(col("id").as("doc_id"),
        expr("repeat('w ', 1 + CAST(id % 7 AS INT))").as("text"),
        when(col("id") < Sampling.ExactMaxStratumRows + 1, lit("big")).otherwise(lit("small")).as("source"))
    val bigBudget = 5000L
    val crossed = Sampling.tokenBudgetAuto(big, "text", "doc_id", "source", bigBudget)
      .as[(Long, String, Long)].collect().toSet
    val hist = Sampling.tokenBudgetHistogram(big, "text", "doc_id", "source", bigBudget)
      .as[(Long, String, Long)].collect().toSet
    val bigExact = Sampling.tokenBudget(big, "text", "doc_id", "source", bigBudget)
      .select("doc_id", "source", "n_tok").as[(Long, String, Long)].collect().toSet
    assert(crossed == hist && hist.nonEmpty)
    assert(hist != bigExact) // the two forms are distinguishable here
    // both branches expose the SAME schema — the crossover is invisible
    // to downstream plans
    assert(Sampling.tokenBudgetAuto(df, "text", "doc_id", "source", budget).columns.toSeq ==
      Seq("doc_id", "source", "n_tok"))
  }

  test("incremental dedup drops exact and near dups of the snapshot, keeps fresh docs") {
    import graft.ops.Incremental
    val snapshotDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "The quick  brown fox jumps over the lazy dog"), // exact dup after normalize
      (11L, "the quick brown fox leaps over the lazy dog"),  // near dup of snapshot 1
      (12L, "una frase totalmente nueva sobre otro tema distinto")
    ).toDF("doc_id", "text")
    // snapshot round-trips through parquet, as production would
    val dir = java.nio.file.Files.createTempDirectory("graft_incsnap_").toString
    try {
      Incremental.signatures(snapshotDocs, "text", "doc_id")
        .write.mode("overwrite").parquet(dir)
      val snap = spark.read.parquet(dir)
      val out = Incremental.dedupAgainst(batch, snap, "text", "doc_id")
        .select("doc_id").as[Long].collect().sorted
      assert(out.sameElements(Array(12L)), out.toSeq)
      // the snapshot side of the plan reads signatures only — never text
      val plan = Incremental.dedupAgainst(batch, snap, "text", "doc_id")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("updatedSnapshot: old rows verbatim ∪ survivor signatures; feeding it back reproduces dedupAgainst") {
    import graft.ops.Incremental
    val snapshotDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines")
    ).toDF("doc_id", "text")
    val day1 = Seq(
      (10L, "The quick  brown fox jumps over the lazy dog"), // exact dup → dropped
      (11L, "una frase totalmente nueva sobre otro tema distinto") // fresh → survives
    ).toDF("doc_id", "text")
    val snap0 = Incremental.signatures(snapshotDocs, "text", "doc_id")
    val snap1 = Incremental.updatedSnapshot(day1, snap0, "text", "doc_id")

    // content: exactly old ∪ signatures(survivors), old rows byte-identical
    val expected = snap0.unionByName(
      Incremental.signatures(day1.filter($"doc_id" === 11L), "text", "doc_id"))
    assert(snap1.exceptAll(expected).count() == 0 && expected.exceptAll(snap1).count() == 0)

    // the loop closes: day-2 dedup against the UPDATED snapshot drops a
    // near-dup of a DAY-1 survivor (proof the update actually extends
    // coverage, not just preserves the old side)
    val day2 = Seq(
      (20L, "una frase totalmente nueva sobre otro tema diferente"), // near dup of 11
      (21L, "entirely fresh day two content nothing shares shingles here")
    ).toDF("doc_id", "text")
    val out2 = Incremental.dedupAgainst(day2, snap1, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out2.sameElements(Array(21L)), out2.toSeq)
    // …while against the ORIGINAL snapshot doc 20 would have survived
    val out2old = Incremental.dedupAgainst(day2, snap0, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out2old.sameElements(Array(20L, 21L)), out2old.toSeq)
  }

  test("mixture refuses an input that already has an `epoch` column") {
    val df = spark.range(5).select(col("id").as("doc_id"), lit("a").as("source"), lit(9).as("epoch"))
    val e = intercept[IllegalArgumentException](
      Sampling.mixture(df, "doc_id", "source", permille = Map("a" -> 1000)))
    assert(e.getMessage.contains("epoch"))
  }

  test("packConcat separates documents with EOS but rejoins a document's own chunks") {
    import graft.ops.Packing
    // doc 10 splits into two chunks; doc 20 is one chunk; all three
    // land in one 100-token sequence (shard count 1 forces one shard).
    val chunks = Seq(
      (10L, 0, "alpha beta", 2L),
      (10L, 1, "gamma", 1L),
      (20L, 0, "delta", 1L)
    ).toDF("doc_id", "chunk_idx", "chunk_text", "n_tokens")
    val packed = Packing.packSequences(chunks, "doc_id", "chunk_idx", "n_tokens",
      budgetTokens = 100, nShards = 1)
    val row = Packing.packConcat(packed, "doc_id", "chunk_idx", "chunk_text", "n_tokens")
      .as[(String, String, Long, Long)].collect().head
    // EOS only at the 10→20 document boundary; 10's chunks rejoin on ' '
    assert(row._2 == "alpha beta gamma<|eos|>delta", row)
    assert(row._3 == 3L && row._4 == 4L, row)
  }

  test("saltedJoin rejects right/full outer join types") {
    import graft.ops.Skew
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(docs, docs, "doc_id", "doc_id", 4, joinType = "full")
    }
  }

  test("decontam flags docs sharing shingles with the eval set and keeps the rest") {
    val corpus = docs.filter($"doc_id" =!= 2L)
    val evalSet = docs.filter($"doc_id" === 2L) // same text as doc 1 after normalize
    val rep = Decontam.overlap(corpus, evalSet, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rep.keySet == Set(1L, 3L, 4L, 5L)) // every corpus doc reported once
    // doc 1 is an exact normalize-dup of the eval doc: all 7 shingles hit
    assert(rep(1L).getBoolean(3) && rep(1L).getLong(1) == 7 && rep(1L).getLong(2) == 1)
    // doc 3 differs in one token: shares the shingles not touching it
    assert(rep(3L).getBoolean(3) && rep(3L).getLong(1) == 4)
    // unrelated docs: zero hits, not contaminated
    assert(!rep(4L).getBoolean(3) && rep(4L).getLong(1) == 0)
    assert(!rep(5L).getBoolean(3) && rep(5L).getLong(1) == 0)
    val kept = Decontam.decontaminate(corpus, evalSet, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(4L, 5L)))
  }

  test("bandBitsFor: ceil(log2(n/target)), clamped, monotone") {
    // exact powers and the off-by-one edges
    assert(NearDup.bandBitsFor(200000, 64) == 12)  // 200k/64 = 3125 → 2^12
    assert(NearDup.bandBitsFor(4096 * 64, 64) == 12)
    assert(NearDup.bandBitsFor(4096 * 64 + 1, 64) == 13)
    assert(NearDup.bandBitsFor(64, 64) == 1)  // floor: never 0 bits
    assert(NearDup.bandBitsFor(1) == 1)
    assert(NearDup.bandBitsFor(Long.MaxValue, 1) == 31) // ceiling: ≥2 bands in a 62-bit sig
    assert(NearDup.bandBitsFor(Long.MaxValue, 64) == 31) // ceildiv must not overflow
    // resulting occupancy is at or below target for a spread of sizes
    for (n <- Seq(1000L, 50000L, 200000L, 10000000L); t <- Seq(16, 64, 256)) {
      val b = NearDup.bandBitsFor(n, t)
      if (b < 31) assert(n.toDouble / (1L << b) <= t, s"n=$n t=$t bits=$b")
    }
  }

  test("autoGeometry: occupancy-bounded bits, 4 bands while they fit a 62-bit sig, never overflowing") {
    assert(NearDup.autoGeometry(2000, 64) == (20, 5))      // gate-SF ballpark
    assert(NearDup.autoGeometry(200000, 64) == (48, 12))   // the measured sf1-ish rung
    assert(NearDup.autoGeometry(2000000, 64) == (60, 15))  // sf10's sizing-curve winner
    assert(NearDup.autoGeometry(1L << 40, 64) == (62, 31)) // bits ceiling: two 31-bit bands
    for (n <- Seq(1L, 100L, 65536L, 1L << 20, 1L << 33, Long.MaxValue); t <- Seq(1, 64, 256)) {
      val (planes, bits) = NearDup.autoGeometry(n, t)
      assert(planes % bits == 0 && planes <= 62 && planes / bits >= 2, s"n=$n t=$t -> $planes/$bits")
    }
  }

  test("autoCells: round(sqrt(n)) clamped to [4, 65536]") {
    assert(Ann.autoCells(0) == 4)
    assert(Ann.autoCells(500) == 22)          // gate corpus: round(22.36)
    assert(Ann.autoCells(1024) == 32)          // the hand-picked gate default, recovered
    assert(Ann.autoCells(1000000) == 1000)
    assert(Ann.autoCells(Long.MaxValue) == 65536)
  }

  test("autoCellCount: ceil(n/target) clamped to [1, 65536]") {
    assert(SemDedup.autoCellCount(0) == 1)
    assert(SemDedup.autoCellCount(500, 64) == 8)      // gate corpus
    assert(SemDedup.autoCellCount(64, 64) == 1)
    assert(SemDedup.autoCellCount(65, 64) == 2)
    assert(SemDedup.autoCellCount(Long.MaxValue, 64) == 65536)
  }

  test("SemDedup.pairs tests id_a < id_b before any graft_dot in the join condition") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = SemDedup.pairs(vecs, "embedding", "vec_id", nCells = 2).queryExecution.optimizedPlan
    val conds = plan.collect { case j: Join => j.condition }.flatten
    assert(conds.size == 1, plan.treeString)
    val conjuncts = new PredicateHelper {
      def split(e: Expression): Seq[Expression] = splitConjunctivePredicates(e)
    }.split(conds.head)
    def dots(e: Expression): Boolean = e.exists(_.isInstanceOf[graft.functions.DotProduct])
    val order = conjuncts.indexWhere(_.sql == "(id_a < id_b)")
    assert(order >= 0, conds.head.sql)
    assert(!conjuncts.take(order + 1).exists(dots), conds.head.sql)
    assert(conjuncts.exists(dots), conds.head.sql)
  }

  // The sf10 ladder measured fixed sizing saturating at 100× (semantic
  // 22.0 s fixed-32 vs 4.94 s sized; embed pairs quadratic under 32/8),
  // so each sized op's DEFAULT resolves its geometry or cell count from
  // a plan-time corpus count (autoGeometry/autoCells/autoCellCount).
  // One table row per op and target: the default call vs an explicit
  // call at the resolved size, so a future default change shows up as a
  // test diff, not a silent scale regression. The tests below keep their
  // earlier names, from when the adaptive form was a separate `*Auto`
  // twin with a `knownCount` override; both folded into the base op's
  // default, which is what every row checks.
  private def sizedCase(name: String): (Seq[Int], DataFrame, DataFrame) = {
    lazy val n = vecs.count()
    val queries = vecs.filter($"vec_id" === 0L)
    val (pair, top) = (Seq(0, 1), Seq(0, 1, 3))
    def geo(t: Int, maxBands: Int) = NearDup.autoGeometry(n, t, maxBands)
    name match {
      case "embedCosinePairs" => (pair,
        NearDup.embedCosinePairs(vecs, "embedding", "vec_id", dim = 8),
        NearDup.embedCosinePairs(vecs, "embedding", "vec_id", dim = 8,
          planes = geo(64, 4)._1, bandBits = geo(64, 4)._2))
      case "embedCosinePairs targetOccupancy=2" => (pair,
        NearDup.embedCosinePairs(vecs, "embedding", "vec_id", dim = 8, targetOccupancy = 2),
        NearDup.embedCosinePairs(vecs, "embedding", "vec_id", dim = 8,
          planes = geo(2, 4)._1, bandBits = geo(2, 4)._2))
      case "lshTopK" => (top,
        Ann.lshTopK(vecs, queries, "embedding", "vec_id", dim = 8, k = 3),
        Ann.lshTopK(vecs, queries, "embedding", "vec_id", dim = 8, k = 3,
          planes = geo(64, 7)._1, bandBits = geo(64, 7)._2))
      case "lshTopK targetOccupancy=2" => (top,
        Ann.lshTopK(vecs, queries, "embedding", "vec_id", dim = 8, k = 3, targetOccupancy = 2),
        Ann.lshTopK(vecs, queries, "embedding", "vec_id", dim = 8, k = 3,
          planes = geo(2, 7)._1, bandBits = geo(2, 7)._2))
      case "ivfTopK" => (top,
        Ann.ivfTopK(vecs, queries, "embedding", "vec_id", dim = 8, k = 3),
        Ann.ivfTopK(vecs, queries, "embedding", "vec_id", dim = 8, k = 3, nCells = Ann.autoCells(n)))
      case "ivfTopKSeeded" => (top,
        Ann.ivfTopKSeeded(vecs, queries, "embedding", "vec_id", dim = 8, k = 3),
        Ann.ivfTopKSeeded(vecs, queries, "embedding", "vec_id", dim = 8, k = 3,
          nCells = Ann.autoCells(n)))
      case "SemDedup.pairs" => (pair,
        SemDedup.pairs(vecs, "embedding", "vec_id", minCos = 0.2),
        SemDedup.pairs(vecs, "embedding", "vec_id", nCells = SemDedup.autoCellCount(n), minCos = 0.2))
      case "SemDedup.pairs targetCellSize=4" => (pair,
        SemDedup.pairs(vecs, "embedding", "vec_id", minCos = 0.2, targetCellSize = 4),
        SemDedup.pairs(vecs, "embedding", "vec_id", nCells = SemDedup.autoCellCount(n, 4), minCos = 0.2))
    }
  }

  private def assertSizedDefaults(names: String*): Unit =
    for (name <- names) {
      val (cols, default, explicit) = sizedCase(name)
      def rows(df: DataFrame) = df.collect().map(r => cols.map(r.get)).toSet
      val got = rows(default)
      assert(got == rows(explicit), name)
      assert(got.nonEmpty, name)
    }

  test("embedCosinePairsAuto == embedCosinePairs at the resolved geometry; knownCount overrides the scan") {
    assertSizedDefaults("embedCosinePairs", "embedCosinePairs targetOccupancy=2")
    // a corpus-scale geometry still plans a banded equi-join
    val (bigPlanes, bigBits) = NearDup.autoGeometry(4096L * 64)
    assert(!executedPlan(NearDup.embedCosinePairs(vecs, "embedding", "vec_id", dim = 8,
      planes = bigPlanes, bandBits = bigBits)).contains("CartesianProduct"))
  }

  test("pairsAuto == pairs at the resolved cell count; lshTopKAuto == lshTopK at the resolved geometry") {
    assertSizedDefaults("SemDedup.pairs", "SemDedup.pairs targetCellSize=4",
      "lshTopK", "lshTopK targetOccupancy=2")
  }

  test("ivfTopKSeededAuto == ivfTopKSeeded at the resolved cell count") {
    assertSizedDefaults("ivfTopKSeeded")
  }

  test("adaptive sizing IS the default (round 13): bare calls equal their _auto twins") {
    assertSizedDefaults("ivfTopK")
  }

  test("half-set fixed geometry is rejected, not silently defaulted") {
    intercept[IllegalArgumentException](
      NearDup.embedCosinePairs(vecs, "embedding", "vec_id", dim = 8, planes = 32))
    intercept[IllegalArgumentException](
      NearDup.embedCosinePairs(vecs, "embedding", "vec_id", dim = 8, bandBits = 8))
    intercept[IllegalArgumentException](
      Ann.lshTopK(vecs, vecs.filter($"vec_id" === 0L), "embedding", "vec_id", dim = 8, planes = 56))
    intercept[IllegalArgumentException](
      Ann.ivfTopK(vecs, vecs.filter($"vec_id" === 0L), "embedding", "vec_id", dim = 8, nCells = -1))
    intercept[IllegalArgumentException](
      SemDedup.pairs(vecs, "embedding", "vec_id", nCells = -1))
  }

  test("decontam baked model: empty eval set safe, null/short text scores zero, join-form parity") {
    val session = spark
    import session.implicits._
    val corpus = docs.filter($"doc_id" =!= 2L)
    val evalSet = docs.filter($"doc_id" === 2L)
    // an EMPTY eval set must not crash the plan-time model build and
    // reports all-zero
    val none = Decontam.overlap(corpus, evalSet.filter($"doc_id" === -1L), "text", "doc_id")
      .collect()
    assert(none.length == corpus.count() && none.forall(r => r.getLong(1) == 0 && !r.getBoolean(3)))
    // null text rows (the old explode dropped them → zero-hit report)
    // and sub-shingle-width texts score zero but still appear once
    val odd = Seq((10L, null: String), (11L, "two words")).toDF("doc_id", "text")
    val oddRep = Decontam.overlap(odd, evalSet, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(oddRep(10L) == ((0L, 0L, false)))
    assert(oddRep(11L) == ((0L, 0L, false)))
    assert(Decontam.decontaminate(odd, evalSet, "text", "doc_id").count() == 2)
    // parity with the pre-round-20 exact-join formulation on this data
    def shingleRows(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.TextHash.shingleHashes(graft.ops.NearDup.tokens(col("text")), 3)).as("h"))
    val evalShingles = shingleRows(evalSet)
      .select(col("h"), col("doc_id").as("eval_id")).distinct()
    val joinForm = shingleRows(corpus)
      .join(broadcast(evalShingles), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_hits"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
    val ref = corpus.select(col("doc_id")).join(joinForm, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        (coalesce(col("n_hits"), lit(0L)) >= 2).as("contaminated"))
      .collect().sortBy(_.getLong(0))
    val baked = Decontam.overlap(corpus, evalSet, "text", "doc_id").collect().sortBy(_.getLong(0))
    assert(baked.sameElements(ref))
  }

  test("decontam scores an RDD-backed (unestimable-stats) corpus identically") {
    val corpus = docs.filter($"doc_id" =!= 2L)
    val rddCorpus = spark.createDataFrame(corpus.rdd, corpus.schema)
    val evalSet = docs.filter($"doc_id" === 2L)
    val viaRdd = Decontam.overlap(rddCorpus, evalSet, "text", "doc_id").collect().sortBy(_.getLong(0))
    val viaDf = Decontam.overlap(corpus, evalSet, "text", "doc_id").collect().sortBy(_.getLong(0))
    assert(viaRdd.sameElements(viaDf))
  }

  // ---- plan shape (the 100-TB contract) --------------------------------

  test("decontam overlap is ONE row-local codegen pass: no join, no explode, no exchange (round 20)") {
    // a LOCAL fixture constant-folds to a LocalTableScan (the whole
    // projection evaluates at plan time); a parquet scan keeps the
    // executed shape visible
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam_plan").toString
    docs.write.mode("overwrite").parquet(dir)
    val pdocs = spark.read.parquet(dir)
    val plan = executedPlan(
      Decontam.overlap(pdocs.filter($"doc_id" =!= 2L), pdocs.filter($"doc_id" === 2L), "text", "doc_id"))
    assert(plan.contains("graft_eval_overlap_counts"), s"baked counts expression missing:\n$plan")
    assert(!plan.contains("Exchange"), s"corpus-side exchange in:\n$plan")
    assert(!plan.contains("Join"), s"join in:\n$plan")
    assert(!plan.contains("Generate"), s"corpus shingles exploded in:\n$plan")
    val dropPlan = executedPlan(
      Decontam.decontaminate(pdocs.filter($"doc_id" =!= 2L), pdocs.filter($"doc_id" === 2L), "text", "doc_id"))
    assert(!dropPlan.contains("Exchange") && !dropPlan.contains("Join"),
      s"decontaminate not row-local:\n$dropPlan")
  }


  test("near-dup candidate generation is an equi-join, never a cartesian product") {
    for (
      df <- Seq(
        NearDup.minhashPairs(docs, "text", "doc_id"),
        NearDup.ngramJaccardPairs(docs, "text", "doc_id"),
        NearDup.simhashPairs(docs, "text", "doc_id"),
        NearDup.embedCosinePairs(vecs, "embedding", "vec_id", dim = 8)
      )
    ) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop join in:\n$plan")
    }
  }

  test("LSH candidate joins stay equi-joins at band edge cases (bandRows/bandBits don't divide k/planes)") {
    // leftover signature components that don't fill a whole band must
    // be dropped, not turned into a degenerate always-equal band key
    // (which would make the candidate join an all-pairs explosion)
    for (
      df <- Seq(
        NearDup.minhashPairs(docs, "text", "doc_id", k = 31, bandRows = 2), // 31 = 15 bands + 1 leftover
        NearDup.minhashPairs(docs, "text", "doc_id", k = 32, bandRows = 5), // 6 bands + 2 leftover
        Ann.lshTopK(vecs, vecs.filter($"vec_id" === 0), "embedding", "vec_id",
          dim = 8, k = 3, planes = 10, bandBits = 4), // 2 bands + 2 leftover bits
        Ann.lshTopK(vecs, vecs.filter($"vec_id" === 0), "embedding", "vec_id",
          dim = 8, k = 2, planes = 16, bandBits = 5) // 3 bands + 1 leftover bit
      )
    ) {
      df.collect() // must execute
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
    }
  }

  test("brute-force ANN broadcasts the query side and group-limits top-k") {
    val plan = executedPlan(
      Ann.bruteTopK(vecs, vecs.filter($"vec_id" === 0), "embedding", "vec_id", k = 3)
    )
    // The only non-equi join is corpus × broadcast(queries) — by design.
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("IVF ANN: broadcast centroid assignment, no cartesian, capped per-query rows") {
    val out = Ann.ivfTopK(vecs, vecs.filter($"vec_id" === 0), "embedding", "vec_id", dim = 8, k = 3, nCells = 4)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 3)
    assert(rows.forall(_.getAs[Long]("vec_id") != 0L)) // no self-match
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("vocabulary top-k counts normalized tokens with a deterministic tie cut") {
    val out = TextOps.vocabulary(docs, "text", k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // "the": 2+2+2 = 6 across docs 1-3; next are the 4-count shared tokens,
    // tie-broken alphabetically: brown(3)... actually count ties cut by token asc
    assert(out.head == ("the" -> 6L))
    assert(out.length == 3)
    assert(out.sliding(2).forall { case Array((ta, ca), (tb, cb)) =>
      ca > cb || (ca == cb && ta < tb) })
  }

  test("line-wise dedup keeps the first corpus occurrence of a repeated fragment") {
    val pages = Seq(
      (1L, "welcome to example. unique first page prose. all rights reserved"),
      (2L, "welcome to example. second page content. all rights reserved"),
      (3L, "welcome to example"), // nothing but boilerplate
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(pages, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "welcome to example. unique first page prose. all rights reserved")
    assert(out(2L) == "second page content") // both boilerplate lines died
    assert(out(3L) == "") // fully-boilerplate doc → empty, row preserved
    assert(out(4L) == "")
    assert(out.size == 4)
  }

  test("feature hashing: bucket counts sum to token count, identical tokens collide") {
    val out = TextOps.hashedFeatures(docs, "text", "doc_id", nBuckets = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.keys.forall { case (_, b) => b >= 0 && b < 64 })
    // doc 1: 9 whitespace tokens; "the" appears twice → one bucket carries 2
    val d1 = out.collect { case ((1L, b), c) => b -> c }
    assert(d1.map(_._2).sum == 9)
    assert(d1.count(_._2 >= 2) >= 1)
    // docs 1 and 2 are identical after normalize → identical sparse vectors
    val d2 = out.collect { case ((2L, b), c) => b -> c }
    assert(d1.toMap == d2.toMap)
  }

  test("SemDeDup finds the planted near-parallel pairs and keeps one per pair") {
    val pairs = SemDedup.pairs(vecs, "embedding", "vec_id", nCells = 2, minCos = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ids i and i+5 are jitter-copies (cos ≈ 1); cross-phase pairs sit
    // well below 0.99 — exactly the five planted pairs must survive
    assert(pairs == (0L until 5L).map(i => (i, i + 5)).toSet)
    val kept = SemDedup.deduplicate(vecs, "embedding", "vec_id", nCells = 2, minCos = 0.99)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(0L, 1L, 2L, 3L, 4L)))
  }

  test("SemDeDup within-cell pair join is an equi-join on the cell key") {
    val plan = executedPlan(
      SemDedup.pairs(vecs, "embedding", "vec_id", nCells = 2, minCos = 0.99))
    assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop join in:\n$plan")
  }

  test("LSH ANN buckets via equi-join on band keys (no full scoring pass)") {
    val plan = executedPlan(
      Ann.lshTopK(vecs, vecs.filter($"vec_id" === 0), "embedding", "vec_id", dim = 8, k = 3)
    )
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  // ---- plan-time models: driver finish vs distributed bake ------------

  /** Runs `body`, and reports the Spark jobs it submitted and whether
    * every query it ran was a `PlanTimeModel.collect`. The distributed
    * bakes run counts, collects and sorted limits, so any of those means
    * the distributed path ran (also after a declined collect).
    */
  private val constructions = Iterator.from(0)

  private def construction[T](group: String)(body: => T): (T, Int, Boolean) = {
    var out: Option[T] = None
    var jobs = 0
    val ran = executions { jobs = jobsFor(s"$group-${constructions.next()}") { out = Some(body) } }.map(_._1)
    (out.get, jobs, ran.nonEmpty && ran.forall(_ == PlanTimeModel.ExecutionName))
  }


  /** The arrays baked into `df`'s plan (centroid matrices, offsets,
    * norms), in plan order; doubles as their bits, so NaN equals NaN
    * and -0.0 differs from 0.0.
    */
  private def bakedArrays(df: DataFrame): Seq[Seq[Any]] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case e: Product => e.productIterator.collect {
        case a: Array[Double] => a.toSeq.map(java.lang.Double.doubleToLongBits)
        case a: Array[_] => a.toSeq
      }.toSeq
    }.flatten))

  /** Plan-time parity: `build`'s rows and baked arrays, or its
    * `require` message, with the session's threshold equal those with
    * `autoBroadcastJoinThreshold=-1`, which turns every driver finish
    * off. `driver` says which path the first run must take; on the
    * driver path construction launches at most one job.
    */
  private def assertBakeParity(name: String, driver: Boolean = true)(build: => DataFrame): Unit = {
    def run(): (Either[String, (Seq[String], Seq[Seq[Any]])], Int, Boolean) = {
      val (built, jobs, onDriver) = construction(name)(
        try Right(build) catch { case e: IllegalArgumentException => Left(e.getMessage) })
      (built.map(df => (df.collect().map(_.toString).sorted.toSeq, bakedArrays(df))), jobs, onDriver)
    }
    val (fast, jobs, onDriver) = run()
    val (slow, _, slowOnDriver) = withBroadcastThreshold(-1)(run())
    assert(onDriver == driver && !slowOnDriver,
      s"$name: driver finish ran = $onDriver, with broadcast off = $slowOnDriver")
    if (driver) assert(jobs <= 1, s"$name: $jobs construction jobs on the driver path")
    assert(fast == slow, s"$name:\n driver      $fast\n distributed $slow")
  }

  /** `df` written to one parquet file and read back: a real file scan,
    * so neither the optimizer nor AQE can fold an empty or local input
    * away, and construction jobs are real jobs. One file scans as one
    * partition, as a single-file table does.
    */
  private def onDisk(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_time").resolve("t").toString
    df.coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def hash32(s: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString, 16)

  /** A 16-row `(vec_id, embedding)` corpus whose ids `a` < `b` tie on
    * `hash32` (their md5 prefixes collide) with 3 ids hashing below
    * them and 11 above, so a 4-cell seeding cuts between the tied pair.
    * `b` is stored first, so only the id order picks `a`. `edit` may
    * change a row's vector (`None` = null) by its id.
    */
  private def tieCorpus(idType: DataType, a: Any, b: Any, others: Iterator[Any],
      extra: Seq[Row] = Nil)(edit: PartialFunction[Any, Option[Seq[java.lang.Float]]] = PartialFunction.empty): DataFrame = {
    val tie = hash32(a.toString)
    val rest = others.filter(i => i != a && i != b).map(i => i -> hash32(i.toString))
      .filter(_._2 != tie).take(400).toSeq
    val ids = rest.filter(_._2 < tie).take(3).map(_._1) ++ Seq(b, a) ++ rest.filter(_._2 > tie).take(11).map(_._1)
    val rnd = new scala.util.Random(7)
    val rows = ids.map { id =>
      val v: Seq[java.lang.Float] = Seq.fill(4)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat))
      Row(id, edit.applyOrElse(id, (_: Any) => Some(v)).orNull)
    } ++ extra
    val schema = StructType(Seq(
      StructField("vec_id", idType), StructField("embedding", ArrayType(FloatType, containsNull = true))))
    spark.createDataFrame(rows.asJava, schema)
  }

  private def longTies(extra: Seq[Row] = Nil)(
      edit: PartialFunction[Any, Option[Seq[java.lang.Float]]] = PartialFunction.empty) =
    tieCorpus(LongType, 25302L, 82945L, Iterator.from(0).map(_.toLong), extra)(edit)

  /** Every vector case of the parity tests: the seeding tie, nulls,
    * ragged vectors, no rows, and string ids whose tie is broken in
    * UTF-8 order ("ﬁ…" = EF AC 81 …) where Java's UTF-16 order would
    * pick the other ("😀…" = D83D …).
    */
  private lazy val vectorCases: Seq[(String, DataFrame)] = {
    def f(xs: Float*): Option[Seq[java.lang.Float]] = Some(xs.map(java.lang.Float.valueOf))
    Seq(
      "ties in hash32" -> longTies()(),
      "a null vector" -> longTies() { case 14L => None },
      "a null seed component" -> longTies() {
        case 25302L => Some(Seq(java.lang.Float.valueOf(1f), null, java.lang.Float.valueOf(2f), java.lang.Float.valueOf(3f)))
      },
      "a null id" -> longTies(Seq(Row(null, Seq(0.5f, 0.5f, 0.5f, 0.5f).map(java.lang.Float.valueOf))))(),
      "ragged vectors" -> longTies() { case 9L => f(1f, 2f, 3f); case 14L => f(1f, 2f) },
      "empty input" -> longTies()().limit(0),
      "UTF-8 vs UTF-16 string ids" ->
        tieCorpus(StringType, "ﬁ90672", "😀27658", Iterator.from(0).map(i => s"doc-$i"))()
    ).map { case (name, df) => name -> onDisk(df) }
  }

  test("kmeans driver finish matches the distributed Lloyd updates (table-driven parity)") {
    for ((name, df) <- vectorCases)
      assertBakeParity(s"kmeans: $name")(Kmeans.assignCells(df, "embedding", "vec_id", nCells = 4, iters = 2))
    // seeds only: the same collect, no update
    assertBakeParity("kmeans: iters = 0")(
      Kmeans.assignCells(vectorCases.head._2, "embedding", "vec_id", nCells = 4, iters = 0))
  }

  test("kmeans takes the distributed path where the driver could not match Spark bit for bit") {
    // NaN: floor(NaN · 2^24) is Spark's (long) cast, not a finite mean
    assertBakeParity("kmeans: a NaN component", driver = false)(Kmeans.assignCells(
      onDisk(longTies() { case 9L => Some(Seq(Float.NaN, 1f, 2f, 3f).map(java.lang.Float.valueOf)) }),
      "embedding", "vec_id", nCells = 4, iters = 2))
    // 3e11 · 2^24 ≈ 5e18 fits a Long, but 17 such terms would not:
    // some accumulation order could overflow, so the driver declines
    assertBakeParity("kmeans: a sum that could leave Long", driver = false)(Kmeans.assignCells(
      onDisk(longTies() { case 9L => Some(Seq(3e11f, 1f, 2f, 3f).map(java.lang.Float.valueOf)) }),
      "embedding", "vec_id", nCells = 4, iters = 2))
  }

  test("IVF and SemDeDup adaptive seeding: one collect gives the count and the seeds (table-driven parity)") {
    for ((name, df) <- vectorCases) {
      assertBakeParity(s"ivf: $name")(
        Ann.ivfTopKSeeded(df, df, "embedding", "vec_id", dim = 4, k = 3))
      assertBakeParity(s"semdedup: $name")(
        SemDedup.pairs(df, "embedding", "vec_id", minCos = 0.0, targetCellSize = 4))
    }
  }

  test("tokenBudgetAuto counts its largest stratum on the driver (table-driven parity)") {
    val docRows = (0L until 30L).map(i => Row(i, "w " * (1 + (i % 5)).toInt, s"s${i % 3}"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType), StructField("source", StringType)))
    def table(rows: Seq[Row]) = onDisk(spark.createDataFrame(rows.asJava, schema))
    val cases = Seq[(String, Seq[Row])](
      "strata" -> docRows,
      "a null stratum and a null id" ->
        (docRows ++ Seq(Row(null, "w w", "s0"), Row(31L, "w", null), Row(32L, "w w w", null))),
      "empty input" -> Nil,
      "UTF-8 vs UTF-16 strata" -> docRows.map(r =>
        Row(r.get(0), r.get(1), Seq("ﬁ", "😀", "z")(r.getLong(0).toInt % 3))))
    for ((name, rows) <- cases) {
      val df = table(rows)
      assertBakeParity(s"token budget: $name")(
        Sampling.tokenBudgetAuto(df, "text", "doc_id", "source", budgetTokens = 20L))
    }
  }

  test("decontam de-duplicates the eval shingle pairs on the driver (table-driven parity)") {
    def table(rows: Seq[(Any, String)], idType: DataType = LongType) = onDisk(spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", idType), StructField("text", StringType)))))
    val texts = docs.as[(Long, String)].collect().toSeq
    val corpus = table(texts)
    // doc 7 repeats its shingles, so its (h, eval_id) pairs repeat
    val evalRows = Seq[(Any, String)](2L -> texts(1)._2, 6L -> "the quick brown fox and the quick brown fox",
      7L -> "lazy dog lazy dog lazy dog lazy dog")
    val cases = Seq(
      "eval set" -> (corpus, table(evalRows)),
      "a null eval id and a null eval text" ->
        (corpus, table(evalRows ++ Seq[(Any, String)]((null, "quick brown fox jumps"), (8L, null)))),
      "empty eval set" -> (corpus, table(Nil)),
      "UTF-8 vs UTF-16 string ids" ->
        (table(texts.map { case (i, t) => (s"c$i", t) }, StringType),
          table(Seq[(Any, String)]("ﬁ" -> texts(1)._2, "😀" -> texts(2)._2, "z" -> texts(1)._2),
            StringType)))
    for ((name, (c, e)) <- cases) {
      assertBakeParity(s"decontam overlap: $name")(Decontam.overlap(c, e, "text", "doc_id", minHits = 1))
      assertBakeParity(s"decontaminate: $name")(Decontam.decontaminate(c, e, "text", "doc_id", minHits = 1))
    }
  }

  test("the vector ops widen vectors without a lambda") {
    // the array Cast runs inside whole-stage codegen; the lambda form
    // `transform(v, x -> cast(x as double))` is a CodegenFallback
    val emb = vectorCases.head._2
    val ops = Seq(
      "ivfTopKSeeded" -> Ann.ivfTopKSeeded(emb, emb, "embedding", "vec_id", dim = 4, k = 3),
      "bruteTopK" -> Ann.bruteTopK(emb, emb, "embedding", "vec_id", k = 3),
      "assignCells" -> Kmeans.assignCells(emb, "embedding", "vec_id", nCells = 4, iters = 2),
      "SemDedup.pairs" -> SemDedup.pairs(emb, "embedding", "vec_id", minCos = 0.4),
      "randomProjectVectors" -> Project.randomProjectVectors(emb, "embedding", "vec_id", dim = 4, outDim = 2))
    for ((name, df) <- ops) {
      val plan = df.queryExecution.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayTransform]))), s"$name:\n$plan")
    }
  }

  test("the vector widening equals the per-element cast lambda") {
    // float, double, int, decimal and string vectors with a null vector
    // and null elements; under ANSI a bad string fails both forms with
    // the same error condition, without ANSI both give null
    val cases = Seq(
      "float" -> Seq(Seq(1.5f, -0.1f, Float.NaN), Seq(null, 2f), null),
      "double" -> Seq(Seq(1e300, -0.0, Double.NegativeInfinity), Seq(3.0, null), null),
      "int" -> Seq(Seq(Int.MaxValue, -7), Seq(null, 0), null),
      "decimal(20,9)" -> Seq(Seq(BigDecimal("12345678901.123456789").bigDecimal, BigDecimal("-0.1").bigDecimal),
        Seq(null, BigDecimal("1E-9").bigDecimal), null),
      "string" -> Seq(Seq(" 2.5 ", "1e3", "NaN", "-Infinity"), Seq("+4", null), null))
    val bad = "string" -> Seq(Seq("1", "x"))
    def eval(ddl: String, vecs: Seq[Seq[Any]], widen: Column => Column): Either[String, Seq[Any]] = {
      val rows = spark.sparkContext.parallelize(vecs.map(v => Row(v)), 1)
      val df = spark.createDataFrame(rows, StructType.fromDDL(s"v array<$ddl>"))
      try Right(df.select(widen(col("v"))).collect().toSeq.map(r => Option(r.getSeq[Any](0)).map(_.toSeq).orNull))
      catch { case e: Exception => Left(condition(e)._1) }
    }
    val lambda: Column => Column = transform(_, x => x.cast("double"))
    for {
      (factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
      ansi <- Seq("true", "false")
      (ddl, vecs) <- cases :+ bad
    } withConfs("spark.sql.codegen.factoryMode" -> factory, "spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.ansi.enabled" -> ansi) {
      val mode = s"$ddl, $factory, ansi=$ansi"
      val (got, want) = (eval(ddl, vecs, NearDup.doubles), eval(ddl, vecs, lambda))
      // doubles as bits: NaN equals NaN, -0.0 differs from 0.0
      def bits(r: Either[String, Seq[Any]]) = r.map(_.map(v => Option(v).map(_.asInstanceOf[Seq[Any]].map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case x => x
      }).orNull))
      assert(bits(got) == bits(want), mode)
      assert(want.isLeft == (ansi == "true" && (ddl, vecs) == bad), s"$mode: $want")
    }
  }

  test("the five plan-time ops launch at most one construction job on the driver path") {
    val emb = vectorCases.head._2
    val docsOnDisk = onDisk(docs.withColumn("source", concat(lit("s"), col("doc_id") % 2)))
    val runs = Iterator.from(0)
    def jobs(build: => DataFrame): Int = jobsFor(s"bake-jobs-${runs.next()}")(build)
    val driverJobs = Map(
      "kmeans_assign" -> jobs(Kmeans.assignCells(emb, "embedding", "vec_id", nCells = 4, iters = 2)),
      "ann_ivf_auto" -> jobs(Ann.ivfTopKSeeded(emb, emb, "embedding", "vec_id", dim = 4, k = 3)),
      "dedup_semantic_auto" -> jobs(SemDedup.pairs(emb, "embedding", "vec_id", minCos = 0.4)),
      "sample_token_budget_auto" ->
        jobs(Sampling.tokenBudgetAuto(docsOnDisk, "text", "doc_id", "source", budgetTokens = 20L)),
      "decontam_overlap" -> jobs(Decontam.overlap(
        docsOnDisk.filter($"doc_id" =!= 2L), docsOnDisk.filter($"doc_id" === 2L), "text", "doc_id")))
    assert(driverJobs.values.forall(_ <= 1), driverJobs)
    // Lloyd runs on the driver: its job count does not depend on iters,
    // while the distributed form adds an update job (or two) per round
    val byIters = Seq(1, 3, 6).map(i => jobs(Kmeans.assignCells(emb, "embedding", "vec_id", nCells = 4, iters = i)))
    assert(byIters.distinct.size == 1 && byIters.head <= 1, byIters)
    val distributed = withBroadcastThreshold(-1)(
      Seq(1, 6).map(i => jobs(Kmeans.assignCells(emb, "embedding", "vec_id", nCells = 4, iters = i))))
    assert(distributed(1) > distributed(0) && distributed(0) > byIters.head, distributed)
    // over the cap, the declined collect costs one job on a
    // one-partition input before the distributed form's jobs
    val overCap: Seq[(String, () => DataFrame)] = Seq(
      "sample_token_budget_auto" -> (() => Sampling.tokenBudgetAuto(docsOnDisk, "text", "doc_id", "source", 20L)),
      "decontam_overlap" -> (() => Decontam.overlap(
        docsOnDisk.filter($"doc_id" =!= 2L), docsOnDisk.filter($"doc_id" === 2L), "text", "doc_id")))
    for ((name, build) <- overCap) {
      val declined = withBroadcastThreshold(1)(jobs(build()))
      val disabled = withBroadcastThreshold(-1)(jobs(build()))
      assert(declined == disabled + 1, s"$name: $declined jobs over the cap, $disabled with the driver finish off")
    }
  }

  private def onDriverAt(bytes: Long)(build: => DataFrame): Boolean =
    withBroadcastThreshold(bytes)(construction("bake-cap")(build)._3)

  test("plan-time models take the driver finish exactly up to the session cap, per model kind") {
    def assertCap(kind: String, bytes: Long)(build: => DataFrame): Unit = {
      assert(onDriverAt(bytes)(build), s"$kind: did not take the driver finish at a $bytes-byte cap")
      assert(!onDriverAt(bytes - 1)(build), s"$kind: took the driver finish one byte under the cap")
    }
    val n = vecs.count()
    // vectors: a (v, h, id) row weighs its 8 floats as stored, 4 bytes
    // each, plus two longs; Catalyst's estimate of the local input
    // (8 + 4 + 2 · 8 bytes a row) passes below that
    assertCap("kmeans vectors", 48 * n)(Kmeans.assignCells(vecs, "embedding", "vec_id", nCells = 3))
    assertCap("ivf seed vectors", 48 * n)(Ann.ivfTopKSeeded(vecs, vecs, "embedding", "vec_id", dim = 8, k = 3))
    // keys: one string stratum a row, 20 bytes — the row cap binds
    val strata = docs.withColumn("source", concat(lit("s"), col("doc_id") % 2))
    assertCap("strata keys", 20 * docs.count())(
      Sampling.tokenBudgetAuto(strata, "text", "doc_id", "source", budgetTokens = 20L))
    // pairs: (h, eval_id), 8 + 8 bytes a shingle — no size gate
    val evalSet = docs.filter($"doc_id" <= 2L)
    val nPairs = evalSet.select(explode(
      graft.functions.TextHash.shingleHashes(NearDup.tokens(col("text")), 3))).count()
    assertCap("eval shingle pairs", 16 * nPairs)(
      Decontam.overlap(docs.filter($"doc_id" > 2L), evalSet, "text", "doc_id"))
  }

  test("vectors computed in the plan are weighed by their elements, not by Catalyst's estimate") {
    // 2000 64-dim double vectors built by array_repeat: Catalyst counts
    // each array as one element, so the projection estimates under
    // 100 KB, while the vectors weigh about 1 MB
    val corpus = spark.range(0, 2000, 1, 1).select(col("id").as("vec_id"),
      array_repeat(sin(col("id").cast("float")), 64).as("embedding"))
    val cap = 200L * 1024
    val estimate = corpus.select(transform(col("embedding"), _.cast("double")).as("v"),
      lit(0L).as("h"), col("vec_id")).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate <= cap, s"estimate $estimate")
    withBroadcastThreshold(cap) {
      assertBakeParity("kmeans: vectors built in the plan", driver = false)(
        Kmeans.assignCells(corpus, "embedding", "vec_id", nCells = 4, iters = 2))
      assertBakeParity("ivf: vectors built in the plan", driver = false)(
        Ann.ivfTopKSeeded(corpus, corpus.limit(3), "embedding", "vec_id", dim = 64, k = 2))
    }
    // with room for them, the same vectors finish on the driver
    withBroadcastThreshold(4L * 1024 * 1024) {
      assertBakeParity("kmeans: double vectors built in the plan")(
        Kmeans.assignCells(corpus, "embedding", "vec_id", nCells = 4, iters = 2))
      assertBakeParity("ivf: double vectors built in the plan")(
        Ann.ivfTopKSeeded(corpus, corpus.limit(3), "embedding", "vec_id", dim = 64, k = 2))
    }
  }
}
