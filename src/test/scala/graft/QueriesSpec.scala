package graft

import org.apache.spark.sql.functions._

/** Smoke + invariant checks for the SparkEntry query surface on sf0.001
  * (row/value-level equivalence vs DuckDB is the driver's gate; this suite
  * pins engine-side invariants and that every query planes + runs).
  */
class QueriesSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("every query runs and every query has matching oracle coverage") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      "every query must carry an oracle (or be consciously rows-only)")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n >= 0, name)
    }
  }

  test("q11 LWW: one row per user, offset-max") {
    val df = SparkEntry.queries("q11_cdc_latest_event")(spark, dir)
    val users = df.select("user_id").distinct().count()
    assert(df.count() == users)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val maxIds = ev.groupBy("user_id").agg(max("event_id").as("m"))
    val joined = df.join(maxIds, "user_id").filter(col("last_event_id") =!= col("m"))
    assert(joined.count() == 0)
  }

  test("q12 fold: no user whose final anchor is a delete survives") {
    val df = SparkEntry.queries("q12_cdc_upsert_fold")(spark, dir)
    assert(df.filter(col("status") === "error").count() == 0)
  }

  test("q18 exact dedup: keep_id is the min doc_id of its signature group") {
    val df = SparkEntry.queries("q18_dedup_exact")(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(df.agg(sum("copies")).collect()(0).getLong(0) == docs.count())
  }

  test("q21 jaccard pairs are symmetric-free and above threshold") {
    val df = SparkEntry.queries("q21_dedup_ngram_jaccard")(spark, dir)
    assert(df.filter(col("ida") >= col("idb")).count() == 0)
    assert(df.filter(col("inter") * 10 < (col("na") + col("nb") - col("inter")) * 3).count() == 0)
  }

  test("q33 clusters: one row per doc; endpoints of every dup pair share a cluster; labels are component minima") {
    val labels = SparkEntry.queries("q33_dedup_clusters")(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(labels.count() == docs.count())
    assert(labels.filter(col("cluster_id") > col("doc_id")).count() == 0)
    // every confirmed duplicate pair must be in one cluster
    val pairs = SparkEntry.queries("q21_dedup_ngram_jaccard")(spark, dir).select("ida", "idb")
    val la = labels.select(col("doc_id").as("ida"), col("cluster_id").as("ca"))
    val lb = labels.select(col("doc_id").as("idb"), col("cluster_id").as("cb"))
    assert(pairs.join(la, "ida").join(lb, "idb").filter(col("ca") =!= col("cb")).count() == 0)
    // a cluster's label is a member of the cluster
    assert(labels.join(labels.select(col("doc_id").as("cluster_id")).distinct(),
      Seq("cluster_id"), "left_anti").count() == 0)
  }

  test("q33: distributed min-label path (gate forced to 0) agrees with the driver union-find path") {
    val driver = queries.ContentQueries.dedupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val distributed = queries.ContentQueries.dedupClusters(spark, dir, maxDriverEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(driver == distributed && driver.nonEmpty)
  }

  test("q33 driver union-find labels every vertex when its map sits one key below a resize threshold") {
    import spark.implicits._
    // each chain (b+1, b+2), (b, b+1) leaves the keys b+1 and b+2 in the
    // union-find map (the root b is implicit), plus the lone pair (1, 2):
    // n keys, one below the map's resize threshold for every n here, so
    // the first write during labelling grows the table
    for (nKeys <- Seq(11, 23, 47, 95)) {
      val roots = (0 until nKeys / 2).map(i => 10L * i + 10)
      val pairs = roots.flatMap(b => Seq((b + 1, b + 2), (b, b + 1))) :+ ((1L, 2L))
      val want = (roots.flatMap(b => Seq(b -> b, (b + 1) -> b, (b + 2) -> b)) ++ Seq(1L -> 1L, 2L -> 1L)).toMap
      val labels = queries.ContentQueries.ccUnionFindDriver(spark, pairs.toDF("ida", "idb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // as in dedupClusters, a vertex without a label row is its own label
      val got = want.keys.map(v => v -> labels.getOrElse(v, v)).toMap
      assert(got == want, s"$nKeys keys: wrong labels ${got.toSeq.filter { case (v, l) => want(v) != l }.sorted}")
    }
  }

  test("q26 knn: exactly 3 neighbors per probe, no self-match") {
    val df = SparkEntry.queries("q26_embed_knn")(spark, dir)
    val perProbe = df.groupBy("pid").count().collect()
    assert(perProbe.nonEmpty && perProbe.forall(_.getLong(1) == 3))
    assert(df.filter(col("pid") === col("neighbor_id")).count() == 0)
  }

  test("q28 ivf ANN: neighbors share the probe's bucket (recall/cost tradeoff is explicit)") {
    val df = SparkEntry.queries("q28_ann_ivf")(spark, dir)
    assert(df.count() > 0)
    assert(df.select("bkt").distinct().count() > 1)
  }

  test("q29 multimodal decode: plumbing is deterministic and batch-shaped") {
    val df = SparkEntry.queries("q29_mm_decode")(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(df.count() == docs.count())
    // stub decode is a pure function of bytes: re-running yields identical rows
    val a = df.orderBy("doc_id").collect().map(_.toString).toSeq
    val b = SparkEntry.queries("q29_mm_decode")(spark, dir).orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a == b)
    assert(df.filter(!col("modality").isin("image", "audio", "video")).count() == 0)
  }

  test("multimodal resize + frame-sample: typed batch plumbing holds its contracts") {
    import graft.operators.Multimodal
    val bin = Multimodal.fromDocuments(spark.read.parquet(s"$dir/documents.parquet"))
    // resize: 1:1 doc mapping, output dims fit the box and preserve order
    val rs = Multimodal.resize(spark, bin, maxW = 128, maxH = 128).collect()
    assert(rs.length == bin.count())
    rs.foreach { r =>
      assert(r.out_width <= 128 && r.out_height <= 128 && r.out_width >= 1 && r.out_height >= 1)
      assert(r.content.length >= 1) // byte 0 always survives the stride resample
      // aspect preserved within integer truncation: out dims never exceed source dims
      assert(r.out_width <= r.width && r.out_height <= r.height)
    }
    // frame-sample: video rows only, indices stepped by `every`, bytes
    // re-concatenate to a prefix of the payload (frames are contiguous slices)
    val fs = Multimodal.frameSample(spark, bin, every = 2).collect()
    assert(fs.nonEmpty)
    assert(fs.forall(_.frame_idx % 2 == 0))
    fs.groupBy(_.doc_id).foreach { case (_, rows) =>
      val n = rows.head.n_frames
      assert(rows.map(_.frame_idx).sorted.toSeq == (0 until n by 2))
      assert(rows.forall(_.frame_bytes.length >= 0))
    }
    // determinism: second run identical
    val fs2 = Multimodal.frameSample(spark, bin, every = 2).collect()
    assert(fs.map(f => (f.doc_id, f.frame_idx, f.frame_bytes.toSeq)).toSet ==
      fs2.map(f => (f.doc_id, f.frame_idx, f.frame_bytes.toSeq)).toSet)
  }

  test("q40 profile: one row per profiled column; counts are internally consistent") {
    val df = SparkEntry.queries("q40_profile_stats")(spark, dir).collect()
    assert(df.length == 5)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    df.foreach { r =>
      assert(r.getAs[Long]("n_rows") == orders.count(), r.toString)
      assert(r.getAs[Long]("n_distinct") + r.getAs[Long]("n_null") <= r.getAs[Long]("n_rows") + 1, r.toString)
      // numeric columns compare as numbers (a lexical compare of "857.7"
      // vs "555285.1" would be data-dependent), the rest lexically
      val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
      val (lo, hi) = (r.getAs[String]("min_val"), r.getAs[String]("max_val"))
      if (numeric(r.getAs[String]("col_name"))) assert(lo.toDouble <= hi.toDouble, r.toString)
      else assert(lo <= hi, r.toString)
    }
  }

  test("q41 contamination: train/eval sides are disjoint and counts meet the threshold") {
    val df = SparkEntry.queries("q41_contamination")(spark, dir)
    assert(df.filter(col("train_id") % 97 === 0).count() == 0)
    assert(df.filter(col("eval_id") % 97 =!= 0).count() == 0)
    assert(df.filter(col("shared_shingles") < 2).count() == 0)
  }

  test("q42 mix weights: token-weighted mean of weights ≈ 1000 (rebalance preserves total mass)") {
    val rows = SparkEntry.queries("q42_mix_weights")(spark, dir).collect()
    assert(rows.nonEmpty)
    val tot = rows.map(_.getAs[Long]("tokens")).sum
    // sum over sources of (tokens * weight/1000) = total * (n_src picks of target share) ≈ total
    val mass = rows.map(r => r.getAs[Long]("tokens") * r.getAs[Long]("weight_x1000")).sum
    assert(math.abs(mass.toDouble / tot - 1000.0) < 50.0, s"mass/tot=${mass.toDouble / tot}")
    // a source holding at most the uniform token share upweights (>=1000),
    // one above it downweights (<1000) — exact integer statement, no
    // parity special case: tokens*nSrc == tot gives exactly weight 1000
    val nSrc = rows.length
    rows.foreach { r =>
      val atOrBelowTarget = r.getAs[Long]("tokens") * nSrc <= tot
      val up = r.getAs[Long]("weight_x1000") >= 1000
      assert(atOrBelowTarget == up, r.toString)
    }
  }

  test("q43 quantiles: monotone per language and bounded by lo/hi") {
    val rows = SparkEntry.queries("q43_profile_quantiles")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vals = Seq("lo", "p25", "p50", "p75", "p95", "hi").map(r.getAs[Long](_))
      assert(vals == vals.sorted, r.toString)
    }
  }

  test("q44 manifest: quality floor, dedup drop set, embedding presence, shard range all hold") {
    val m = SparkEntry.queries("q44_train_manifest")(spark, dir)
    assert(m.count() > 0)
    assert(m.filter(col("n_words") < 30).count() == 0)
    assert(m.filter(col("shard") < 0 || col("shard") > 15).count() == 0)
    // nothing in the manifest is a dropped duplicate
    val dropped = SparkEntry.queries("q21_dedup_ngram_jaccard")(spark, dir)
      .select(col("idb").as("doc_id")).distinct()
    assert(m.join(dropped, "doc_id").count() == 0)
    // every manifest row has a vector
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"))
    assert(m.join(emb, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("q45 repetition: fractions in [0,1000]; an all-same-word doc maxes out") {
    val rows = SparkEntry.queries("q45_text_repetition")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val top = r.getAs[Long]("top_word_x1000")
      val dup = r.getAs[Long]("dup_bigram_x1000")
      assert(top >= 0 && top <= 1000, r.toString)
      assert(dup >= 0 && dup <= 1000, r.toString)
      assert(r.getAs[Long]("max_cnt") <= r.getAs[Long]("n_words"), r.toString)
    }
    // fixture check on a synthetic frame: "a a a a" → top share 1000,
    // 3 bigrams all "a a" → dup share (3-1)*1000/3 = 666
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q45fix").toString
    Seq((1L, "a a a a", "en", "t", 7L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val fix = SparkEntry.queries("q45_text_repetition")(spark, tmp).collect().head
    assert(fix.getAs[Long]("top_word_x1000") == 1000L)
    assert(fix.getAs[Long]("dup_bigram_x1000") == 666L)
  }

  test("q46 keywords: ≤3 per doc, ranks dense from 1, score consistent with tf/df") {
    val rows = SparkEntry.queries("q46_keyword_tfidf")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
      // ranks follow (score desc, w asc)
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getAs[Long]("score"), b.getAs[Long]("score"))
          assert(sa > sb || (sa == sb && a.getAs[String]("w") < b.getAs[String]("w")))
        case _ => ()
      }
    }
    rows.foreach(r => assert(
      r.getAs[Long]("score") == r.getAs[Long]("tf") * 1000000L / r.getAs[Long]("df"), r.toString))
  }

  test("q47 vocab: vocab ≤ tokens; per-source vocab ≥ global distinct floor sanity") {
    val rows = SparkEntry.queries("q47_vocab_stats")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("vocab") <= r.getAs[Long]("tokens"), r.toString)
      assert(r.getAs[Long]("ttr_x1000") == r.getAs[Long]("vocab") * 1000L / r.getAs[Long]("tokens"))
    }
  }

  test("q48 centroids: one row per (label, dim); n = label cardinality; centroid bounded by data") {
    val rows = SparkEntry.queries("q48_embed_centroids")(spark, dir).collect()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val dims = emb.select(size(col("embedding"))).distinct().collect().map(_.getInt(0))
    assert(dims.length == 1, "fixed-width embedding table expected")
    val labelCounts = emb.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.length == labelCounts.size * dims.head)
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == labelCounts(r.getAs[Int]("label")), r.toString)
      // quantized elements live in [-1000, 1000] for unit-ish embeddings;
      // the integer mean must stay within the quantized data range
      assert(math.abs(r.getAs[Long]("centroid_x1000")) <= 1001L, r.toString)
    }
  }

  test("q50 packing: every shard's token stream is gapless from 0 and chunk ids match the offsets") {
    val df = SparkEntry.queries("q50_token_packing")(spark, dir)
    // gapless concatenation: per shard, sum of doc lengths == end of the
    // last doc's span, and the stream starts at offset 0
    val byShard = df.groupBy("shard").agg(
      sum("n_tokens").as("total"),
      max(col("start_tok") + col("n_tokens")).as("end"),
      min("start_tok").as("first")).collect()
    assert(byShard.nonEmpty)
    byShard.foreach { r =>
      assert(r.getAs[Long]("total") == r.getAs[Long]("end"), r.toString)
      assert(r.getAs[Long]("first") == 0L, r.toString)
    }
    // chunk ids are pure arithmetic over the span
    assert(df.filter(
      col("first_chunk") =!= expr("start_tok div 256") ||
      col("last_chunk") =!= expr("(start_tok + n_tokens - 1) div 256") ||
      col("chunk_offset") =!= expr("start_tok % 256")).count() == 0)
    // doc count preserved (a packing manifest drops nothing)
    assert(df.count() == spark.read.parquet(s"$dir/documents.parquet").count())
  }

  test("q51 chunks: taking each chunk's first stride words (last chunk whole) reconstructs every doc") {
    val chunks = SparkEntry.queries("q51_rag_chunks")(spark, dir)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(chunks.keySet == docs.keySet)
    chunks.foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("chunk_idx"))
      assert(sorted.map(_.getAs[Int]("chunk_idx")).toSeq == sorted.indices.toSeq, s"doc $id")
      val rebuilt = sorted.zipWithIndex.map { case (r, i) =>
        val ws = r.getAs[String]("chunk_text").split(" ")
        assert(ws.length == r.getAs[Long]("chunk_words"), s"doc $id chunk $i")
        assert(ws.length >= 1 && ws.length <= 32, s"doc $id chunk $i")
        if (i == sorted.length - 1) ws else ws.take(16)
      }.flatten.mkString(" ")
      assert(rebuilt == docs(id), s"doc $id not covered by its chunks")
    }
  }

  test("entry: flagship engine pipeline yields rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
