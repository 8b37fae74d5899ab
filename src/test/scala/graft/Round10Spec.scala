package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 additions: bucketed-store compaction after day-N appends.
  * The append path (Round9Spec) lands one extra file per bucket per batch;
  * Spark's reader reports write-time sortBy order only for SINGLE-file
  * buckets, so without compaction the probe plan silently regains a
  * per-bucket Sort on day 3. These tests pin the full lifecycle:
  * multi-file buckets DO cost a store-side Sort, compaction restores the
  * one-file-per-bucket layout, and the post-compaction probe is again
  * Exchange-free AND Sort-free on the store side.
  *
  * Also pins the per-document native text kernels against the exploded
  * groupBy forms they replaced: winnowing here, and the MinHash signature
  * ([[graft.functions.MinhashSignature]]) behind every near-dup pipeline. */
class Round10Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The Round8Spec probe-plan recipe: forced sort-merge anti-join, AQE
    * off, reader trusting write-time bucket order where layout allows. */
  private def withProbeConfs[A](f: => A): A = {
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Store side (right) of the single sort-merge anti-join in a probe of
    * `tbl` by a small fresh batch. */
  private def probeStoreSide(tbl: String) = {
    val batch = Tables(spark, sf, "documents").limit(50)
      .select(md5(col("text").cast("binary")).as("fp"))
    val plan = batch.join(spark.table(tbl), Seq("fp"), "left_anti")
      .queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(joins.size == 1, s"expected one sort-merge anti-join, got ${joins.size}")
    joins.head.right
  }

  private def bucketFiles(tbl: String): Map[String, Seq[java.io.File]] = {
    val loc = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
        .filter(col("col_name") === "Location")
        .head().getString(1)))
    val bucketId = """.*_(\d+)(?:\..*)?$""".r
    loc.listFiles().toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .groupBy(f => f.getName match { case bucketId(b) => b })
  }

  // ---- banded embed verify: no embeddings through the dedup shuffle ----

  test("banded near-dup: no exchange ABOVE the candidate join carries an embedding") {
    // The sf100 probe filled the disk on the cross-band dedup shuffle while
    // it still carried both embeddings per candidate pair. Post-fix, the
    // only array-typed exchanges are the banded vector rows FEEDING the
    // join; everything above it moves (vec_a, vec_b, cos) triples.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = ops.Similarity.embedNearDup2(spark, sf).queryExecution.executedPlan
      val exchangesAboveJoin = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.collect {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.nonEmpty => e
      }
      assert(exchangesAboveJoin.nonEmpty, "expected the dedup/sort exchanges above the join")
      for (e <- exchangesAboveJoin)
        assert(!e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"exchange above the candidate join must not carry embeddings: ${e.output.map(_.name)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  // ---- zero-shuffle winnowing (sf100 probe rewrite) ----

  test("winnow per-doc arrays are bit-identical to the window formulation") {
    import spark.implicits._
    // Fixture corpus + adversarial shapes: tiny docs (< w shingles, the
    // global-min fallback), heavy repetition (tie-breaking + distinct
    // collapse), and random token streams.
    val rnd = new scala.util.Random(7)
    val extra = Seq(
      1000001L -> "one",
      1000002L -> "a b",
      1000003L -> "a b c d",
      1000004L -> Seq.fill(40)("dup").mkString(" "),
      1000005L -> Seq.fill(200)(s"w${rnd.nextInt(5)}").mkString(" "),
      1000006L -> Seq.fill(300)(s"t${rnd.nextInt(1000)}").mkString(" "),
    ).toDF("doc_id", "text")
    val docs = Tables(spark, sf, "documents").select("doc_id", "text").unionByName(extra)
    val viaWindow = ops.TextOps.winnowSelections(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaArray = ops.TextOps.winnowPerDoc(docs)
      .select(col("doc_id"), explode(col("dsels")).as("k"))
      .select(col("doc_id"), expr("k >> 20").as("fp"),
        (lit(1048575L) - (col("k") % lit(1048576L))).as("selpos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaArray == viaWindow,
      "per-doc selection set must equal the window formulation exactly")
  }

  test("winnow fingerprints: zero-shuffle form equals the exploded groupBy reference") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val ref = ops.TextOps.winnowFingerprintsExploded(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = ops.TextOps.winnowFingerprints(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == ref)
  }

  test("winnow_true plan: NO shuffle before the output sort — the corpus never leaves its partitions") {
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = ops.TextOps.winnowTrue(spark, sf).queryExecution.executedPlan
      val hashEx = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(hashEx.isEmpty,
        "the per-doc array form must not hash-shuffle the shingle set")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("store compaction: content survives 3 appends + compaction bit-exactly") {
    val store = ops.TextOps.dedupStoreCompact(spark, sf)
      .collect().map(_.getString(0)).toSeq
    val expected = Tables(spark, sf, "documents")
      .select(md5(col("text").cast("binary")).as("fp"))
      .distinct().orderBy("fp")
      .collect().map(_.getString(0)).toSeq
    assert(store == expected,
      "the compacted store must hold every distinct corpus fingerprint, sorted")
  }

  test("store compaction: every bucket is back to ONE file after 3 appends + compaction") {
    ops.TextOps.dedupStoreCompact(spark, sf).collect() // build + maintain + compact
    val tbl = ops.TextOps.canonStoreName(sf) + "_cmp"
    val multi = bucketFiles(tbl).filter(_._2.size > 1)
    assert(multi.isEmpty,
      s"compaction must leave one file per bucket, got multi-file buckets: ${multi.keys.toSeq.sorted}")
  }

  test("store compaction: the re-probe plan is STILL sort-free and exchange-free") {
    ops.TextOps.dedupStoreCompact(spark, sf).collect()
    val tbl = ops.TextOps.canonStoreName(sf) + "_cmp"
    withProbeConfs {
      val storeSide = probeStoreSide(tbl)
      assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
        "compacted store must never re-shuffle: its buckets ARE the join partitions")
      assert(storeSide.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
        "one file per bucket + write-time sortBy: the post-compaction probe must not re-sort")
      val scans = storeSide.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.head.bucketedScan,
        "store side must still be a bucketed file scan after the file rewrite")
    }
  }

  test("store compaction: WITHOUT it, the appended store's probe regains a Sort (the cost compaction deletes)") {
    // The _maint store has day-2's append in place (2 files/bucket where
    // both halves hit the bucket) and is never compacted — the reader
    // rightly refuses to report sortBy order for its multi-file buckets,
    // so the same probe pays a store-side per-bucket SortExec. This is the
    // counterfactual that makes the compaction test meaningful.
    ops.TextOps.dedupStoreMaint(spark, sf).collect() // ensure built + appended
    val tbl = ops.TextOps.canonStoreName(sf) + "_maint"
    assert(bucketFiles(tbl).exists(_._2.size > 1),
      "precondition: the maintained store must actually have multi-file buckets")
    withProbeConfs {
      val storeSide = probeStoreSide(tbl)
      assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
        "appends never cost the store an Exchange — buckets still align")
      assert(storeSide.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }.nonEmpty,
        "multi-file buckets must cost a store-side Sort — else compaction would be pointless")
    }
  }

  // ---- native minhash signatures ----

  /** The retired composition, verbatim: one row per shingle, the portable
    * hash folded to 30 bits, then a `numHashes`-column `min` aggregate
    * keyed by doc_id. */
  private def explodedSignatures(docs: org.apache.spark.sql.DataFrame, numHashes: Int) = {
    val h30 = docs
      .select(col("doc_id"), explode(ops.Dedup.shingles(col("text"))).as("sh"))
      .select(col("doc_id"), (ops.Dedup.portableHash(col("sh")) % lit(1073741824L)).as("h30"))
    val mins = (0 until numHashes).map(k => min(pmod(
      col("h30") * lit(ops.Dedup.permA(k)) + lit(ops.Dedup.permB(k)),
      lit(2147483647L))).as(s"h$k"))
    h30.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  private def sigMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  private lazy val adversarialDocs = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (Seq(
      1000001L -> null,                                // null text: [null] shingles
      1000002L -> "",                                  // empty text: one "" shingle
      1000003L -> "one",                               // < 3 tokens: whole-text fallback
      1000004L -> "one two",
      1000005L -> "a b c",                             // exactly one shingle
      1000006L -> Seq.fill(40)("dup").mkString(" "),   // one shingle repeated 38 times
      1000007L -> "naïve café 日本語 テキスト 🙂 ✓ ok",  // multibyte UTF-8
      1000008L -> "  a  b  c  ",                       // double spaces: empty tokens
      1000009L -> Seq.fill(300)(s"t${rnd.nextInt(1000)}").mkString(" "),
    ) ++ (1000010L to 1000040L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(80))(s"x${rnd.nextInt(30)}").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("minhash signatures: native kernel equals the exploded groupBy reference (adversarial + sf0.001)") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text").unionByName(adversarialDocs)
    val got = sigMap(ops.Dedup.minhashSignatures(docs))
    val ref = sigMap(explodedSignatures(docs, ops.Dedup.NumHashes))
    assert(got.keySet == ref.keySet)
    for ((id, sig) <- got) assert(sig == ref(id), s"signature divergence at doc $id")
    assert(got(1000001L) == Seq.fill(ops.Dedup.NumHashes)(null),
      "a null document yields NumHashes nulls, as min over its one null row did")
    assert(got(1000006L).distinct.size > 1, "repeated shingles still rank under 64 permutations")
  }

  test("minhash witness q_minhash_sig: the 16-wide kernel equals the exploded reference, ordered") {
    val got = ops.Dedup.minhashSig(spark, sf).collect().map(_.toSeq).toSeq
    val ref = explodedSignatures(Tables(spark, sf, "documents"), ops.Dedup.MinhashSigPerms)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == ref)
  }

  test("minhash signatures: CODEGEN_ONLY and NO_CODEGEN agree with codegen fallback forbidden") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text").unionByName(adversarialDocs)
    def run(confs: (String, String)*): Map[Long, Seq[Any]] = {
      val all = confs :+ ("spark.sql.codegen.fallback" -> "false")
      val saved = all.map { case (k, _) => k -> spark.conf.getOption(k) }
      all.foreach { case (k, v) => spark.conf.set(k, v) }
      try sigMap(ops.Dedup.minhashSignatures(docs))
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val compiled = run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true")
    val interpreted = run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(compiled.nonEmpty && compiled == interpreted)
  }

  test("minhash signatures plan: a per-row map — no exchange, no explode, one kernel call per row") {
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = ops.Dedup.minhashSignatures(Tables(spark, sf, "documents"))
        .queryExecution.executedPlan
      assert(plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.isEmpty,
        s"signature stage must not shuffle:\n$plan")
      assert(plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
        "signature stage must not explode shingles into rows")
      val kernels = plan.flatMap(_.expressions.flatMap(_.collect {
        case m: graft.functions.MinhashSignature => m }))
      assert(kernels.size == 1, s"the kernel must run once per document, not per column:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }
}
