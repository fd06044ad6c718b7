package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, expr, lit, min,
  count, regexp_replace, sha2, size, split, trim, lower}

import graft.SparkSpecBase

/** Shingle-path edge cases: documents with fewer than 3 tokens must yield
  * an EMPTY shingle set (DuckDB's `generate_series(1, 0)` is empty; an
  * unguarded Spark `sequence(1, 0)` DESCENDS to `[1, 0]` and `slice` at
  * index 0 throws). fingerprint / minhashNearDup / neardupClusters must
  * therefore survive — not crash on — short docs.
  */
class TextOpsSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.01"

  test("range-partitioned train order reproduces the global window's " +
    "positions bit-for-bit") {
    // the declared row now RUNS the ranged core (r17) — so the
    // invariance check compares it against the kept reference shape
    // [[TextOps.trainOrderGlobalOn]] (one global row_number window):
    // per-partition offsets + monotonic local ids == one global
    // row_number — same rows, same keys, same positions. The global
    // reference emits int row_number, the ranged core BIGINT
    // (positions past 2^31 are its whole point) — compare as longs,
    // as the driver hash does across integer widths
    val ranged = TextOps.trainOrder(spark, "/root/testdata/sf0.001")
    val a = ranged.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    val b = TextOps.trainOrderGlobalOn(ranged.drop("shuffle_pos"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong))
      .toSeq
    assert(a == b)
    // and the declared twin stays in lockstep with the ranged form
    val c = graft.SparkEntry.queries("docs_train_order_ranged")(
      spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(a == c)
  }

  test("range-partitioned curriculum order reproduces the global " +
    "window's positions bit-for-bit") {
    // same invariance with the banded (band, shuffle_key, doc_id)
    // range key: the declared row (ranged core since r17) must agree
    // on every row with a directly-computed global row_number window
    // over the same banded rows
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val ranged = TextOps.curriculumOrder(spark, "/root/testdata/sf0.001")
    val a = ranged.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3)))
      .toSeq
    val b = ranged.drop("curriculum_pos")
      .withColumn("curriculum_pos", row_number().over(
        Window.orderBy("band", "shuffle_key", "doc_id")))
      .orderBy("curriculum_pos")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3).toLong))
      .toSeq
    assert(a == b)
    val c = graft.SparkEntry.queries("docs_curriculum_order_ranged")(
      spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3)))
      .toSeq
    assert(a == c)
  }

  test("range-partitioned running sum reproduces the global window's " +
    "cumulative sums bit-for-bit") {
    // the r17 tokenPacking/packSegments core: per-partition streaming
    // sums + prefix offsets must equal one global running-sum window
    // on every row (unique doc_id total order, exact long arithmetic)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.sum
    val base = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt"))
    val ranged = TextOps.rangedCumSumOn(spark, base, parts = 7,
        keys = Seq(col("doc_id")), value = col("nt"), cumCol = "cum")._1
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = base.withColumn("cum", sum("nt").over(w))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(ranged == global)
  }

  test("length batching: buckets partition the corpus, waste is the " +
    "definitional slot difference, truncation only in the top bucket") {
    val rows = TextOps.lengthBatching(spark, sf).collect()
    val docs = graft.Tables(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs) // a partition
    rows.foreach { r =>
      assert(r.getAs[Long]("padded_slots") ==
        r.getAs[Long]("n_docs") * r.getAs[Long]("bucket"))
      assert(r.getAs[Long]("pad_waste") ==
        r.getAs[Long]("padded_slots") - r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("pad_waste") >= 0L)
      if (r.getAs[Long]("bucket") < 512L)
        assert(r.getAs[Long]("trunc_tokens") == 0L)
    }
  }

  /** Writes a tiny documents table (driver schema) with short-doc traps. */
  private def shortDocsDir(): String = {
    val dir = Files.createTempDirectory("textops").toString
    val rows = Seq(
      (0L, "one", "en", "src0", 3L),                       // 1 token
      (1L, "two tokens", "en", "src0", 10L),               // 2 tokens
      (2L, "", "en", "src0", 0L),                          // empty text
      (3L, "a b c d e f g h i j", "en", "src0", 19L),      // normal
      (4L, "a b c d e f g h i j", "en", "src0", 19L))      // exact dup of 3
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("fingerprint survives <3-token docs with the empty-set digest") {
    val dir = shortDocsDir()
    val fp = TextOps.fingerprint(spark, dir).collect()
    assert(fp.length == 5)
    val byId = fp.map(r => r.getLong(0) -> r.getString(1)).toMap
    // empty shingle set → sha256 of "" for every short doc
    val emptyDigest =
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    assert(byId(0L) == emptyDigest)
    assert(byId(1L) == emptyDigest)
    assert(byId(2L) == emptyDigest)
    assert(byId(3L) != emptyDigest)
    assert(byId(3L) == byId(4L)) // identical docs, identical fingerprint
  }

  test("minhash near-dup survives short docs and still finds the real dup") {
    val dir = shortDocsDir()
    val pairs = TextOps.minhashNearDup(spark, dir).collect()
    // short docs have no signature → can never pair; 3↔4 is jac=1.0
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((3L, 4L)))
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("neardup clustering survives short docs") {
    val dir = shortDocsDir()
    val cl = TextOps.neardupClusters(spark, dir).collect()
    assert(cl.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet == Set((3L, 3L, true), (4L, 3L, false)))
  }

  test("decontamination flags only corpus docs overlapping the eval set") {
    val rows = TextOps.decontaminate(spark, sf).collect()
    // every flagged doc is a corpus doc (never an eval doc), with a
    // positive distinct-overlap count
    rows.foreach { r =>
      assert(r.getLong(0) % 101 != 0, s"eval doc flagged: $r")
      assert(r.getLong(1) > 0)
    }
    assert(rows.nonEmpty) // the check is not vacuous on the test corpus
  }

  test("PII scrub redacts injected emails/phones and hashes the result") {
    val rows = TextOps.piiScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    rows.foreach { case (id, (em, ph, h)) =>
      assert(em == (if (id % 7 == 0) 1L else 0L), s"doc $id emails=$em")
      assert(ph == (if (id % 13 == 0) 1L else 0L), s"doc $id phones=$ph")
      assert(h.length == 64)
    }
    // a scrubbed doc's hash differs from its unscrubbed sibling text
    val clean = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val touched = rows.filter { case (id, _) => id % 7 == 0 }
    assert(touched.nonEmpty &&
      touched.forall { case (id, (_, _, h)) => h != clean(id) })
  }

  test("span scrub keeps exactly one copy of a duplicated span") {
    val rows = TextOps.spanScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    assert(rows.size == graft.Tables(spark, sf, "documents").count())
    rows.foreach { case (id, (n, s, h)) =>
      assert(s >= 0 && s <= n, s"doc $id scrubbed $s of $n")
      assert(h.length == 64)
    }
    // the corpus HAS cross-doc duplicated spans (docs_dup_spans is
    // non-empty), so something must have been scrubbed somewhere —
    // and an untouched doc's kept_hash equals the hash of its own
    // token join (the scrub is the identity off the duplicated spans)
    assert(rows.values.exists(_._2 > 0), "nothing scrubbed")
    val cleanHash = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        sha2(expr("array_join(split(text, ' '), ' ')"), 256).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = rows.filter { case (_, (_, s, _)) => s == 0 }
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, (_, _, h)) =>
      assert(h == cleanHash(id), s"doc $id changed despite 0 scrubbed")
    }
    // keep-one semantics: for every duplicated span, at least one
    // occurrence survived — the total scrubbed volume is strictly
    // less than the total duplicated-occurrence volume
    val dupOcc = TextOps.dupSpans(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_occ")).collect()(0)
      .getLong(0)
    val totalScrubbed = rows.values.map(_._2).sum
    assert(totalScrubbed < dupOcc * 8,
      s"scrubbed $totalScrubbed >= all duplicated volume ${dupOcc * 8}")
  }

  test("repetition fractions are in [0,1] and flag threshold crossings") {
    val rows = TextOps.repetitionFilter(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, b) = (r.getDouble(1), r.getDouble(2))
      assert(w >= 0.0 && w <= 1.0 && b >= 0.0 && b <= 1.0, s"$r")
      assert(r.getBoolean(3) == b > 0.5 ||
        math.abs(b - 0.5) < 1e-9) // flag consistent with its own ratio
    }
  }

  test("source mixing never exceeds a source's token budget") {
    val totals = graft.Tables(spark, sf, "documents")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.expr(
        "sum(size(split(text, ' ')))").as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = TextOps.sourceMixing(spark, sf).collect()
    assert(rows.length == totals.size, "every source must take something")
    rows.foreach { r =>
      val (src, taken, budget) = (r.getString(0), r.getLong(2), r.getLong(3))
      assert(budget == totals(src) * 6 / 10, s"$src budget drifted")
      assert(taken <= budget, s"$src took $taken > budget $budget")
      assert(taken > 0, s"$src took nothing")
    }
  }

  test("dup spans only report windows seen in at least two docs") {
    val rows = TextOps.dupSpans(spark, sf).collect()
    assert(rows.nonEmpty, "synthetic corpus has boilerplate prefixes")
    rows.foreach { r =>
      val (nDocs, nOcc) = (r.getLong(2), r.getLong(3))
      assert(nDocs >= 2 && nOcc >= nDocs, s"$r")
      assert(r.getString(1).split(' ').length == 8, "8-token windows")
    }
  }

  test("lm familiarity separates in-language from out-of-language docs") {
    val rows = TextOps.lmFamiliarity(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, seen) = (r.getLong(2), r.getLong(3))
      assert(seen <= n && r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
    // training-set invariant: every en doc's trigrams ARE the model's
    // training data, so en OOV is exactly 0 and each en trigram's count
    // includes at least its own occurrence (familiarity >= 1).
    // (The synthetic corpus shares one vocabulary across all lang labels,
    // so a cross-language OOV split is not assertable here — on real
    // multi-script data it is the whole point of the filter.)
    val en = rows.filter(_.getString(1) == "en")
    assert(en.nonEmpty)
    en.foreach { r =>
      assert(r.getDouble(6) == 0.0, s"en doc ${r.getLong(0)} has OOV")
      assert(r.getDouble(5) >= 1.0, s"en doc ${r.getLong(0)} familiarity")
    }
  }

  test("LSH recall audit: hits bounded by truth, high recall on corpus") {
    val Array(r) = TextOps.minhashRecall(spark, sf).collect()
    val (nTrue, nHit, nLsh, recall) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(nTrue > 0, "audit sample found no true near-dups — not probing")
    assert(nHit <= nTrue && recall >= 0.0 && recall <= 1.0)
    // 4x3 banding at jac>=0.3 has >=79% expected candidate recall;
    // the synthetic dups are near-identical prefixes, so in practice
    // the verified pipeline catches essentially all of them
    assert(recall >= 0.75, s"LSH recall degraded: $recall")
  }

  test("curation pipeline: stages shrink monotonically and really filter") {
    val rows = TextOps.curationPipeline(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq("0_raw", "1_exact", "2_neardup",
      "3_quality", "4_repetition", "5_decontam"))
    rows.sliding(2).foreach { case Array((sa, da, ta), (sb, db, tb)) =>
      assert(db <= da && tb <= ta, s"$sb grew vs $sa")
    }
    assert(rows.head._2 == 500)
    // the pipeline must actually curate, not pass everything through
    assert(rows.last._2 < rows.head._2 * 9 / 10,
      s"final corpus ${rows.last._2} barely filtered from ${rows.head._2}")
  }

  test("keep-best picks the max-quality doc (min id on ties) per cluster") {
    val clusters = TextOps.neardupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap // doc -> rep
    val quality = TextOps.qualityScore(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"))).toMap
    val kept = TextOps.neardupKeepBest(spark, sf).collect()
    assert(kept.nonEmpty)
    kept.foreach { r =>
      val rep = r.getAs[Long]("cluster_rep")
      val members = clusters.collect { case (d, l) if l == rep => d }.toSeq
      assert(members.size == r.getAs[Long]("cluster_size"))
      val best = members.map(quality).max
      assert(r.getAs[Double]("best_quality") == best)
      assert(r.getAs[Long]("kept_doc") ==
        members.filter(quality(_) == best).min)
    }
  }

  test("temperature mix upsamples rare languages, bounded by rate 1.0") {
    val rows = TextOps.temperatureMix(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("kept"),
        r.getAs[Double]("rate"), r.getAs[Long]("total")))
    assert(rows.length >= 2)
    rows.foreach { case (_, kept, rate, total) =>
      assert(rate > 0.0 && rate <= 1.0)
      assert(kept <= total)
    }
    // α = 0.5: rate ∝ 1/sqrt(count) — a strictly smaller language gets
    // a strictly larger (or capped) sampling rate
    val byCount = rows.sortBy(_._4)
    byCount.zip(byCount.drop(1)).foreach { case (small, large) =>
      if (small._4 < large._4) assert(small._3 >= large._3)
    }
    // and the realized take tracks the assigned rate (hash uniformity)
    rows.foreach { case (_, kept, rate, total) =>
      assert(math.abs(kept.toDouble / total - rate) <= 0.15)
    }
  }

  test("bpe merges: counts descend and pairs are adjacent-token joins") {
    val rows = TextOps.bpeMerges(spark, sf).collect()
    assert(rows.length == 20)
    val counts = rows.map(_.getAs[Long]("pair_count"))
    assert(counts.zip(counts.drop(1)).forall { case (a, b) => a >= b })
    assert(rows.forall(_.getAs[String]("pair").count(_ == '|') >= 1))
  }

  test("chunk windows: stride-aligned starts, every token covered") {
    val nToks = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = TextOps.chunkOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2).toInt,
        r.getLong(3).toInt))
    assert(rows.map(_._1).toSet == nToks.keySet)
    rows.groupBy(_._1).foreach { case (doc, g) =>
      val n = nToks(doc)
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to g.length),
        s"doc $doc chunk_idx gap")
      sorted.foreach { case (_, idx, start, nTok) =>
        assert(start == 1 + (idx - 1) * 16, s"doc $doc start off-stride")
        assert(nTok >= 1 && nTok <= 32, s"doc $doc chunk size $nTok")
        assert(nTok == math.min(32, n - start + 1))
      }
      // coverage: the last chunk reaches the final token, and no prior
      // start jumps more than a window, so no token falls in a gap
      val last = sorted.last
      assert(last._3 + last._4 - 1 == n, s"doc $doc tail uncovered")
      if (n <= 32) assert(g.length == 1, s"short doc $doc split")
    }
  }

  test("chunk dedup: only true duplicate groups, keeper is the minimum") {
    val chunks = TextOps.chunkOverlap(spark, sf).collect()
      .map(r => (r.getString(4), r.getLong(0), r.getInt(1)))
    val byHash = chunks.groupBy(_._1)
    val rows = TextOps.chunkDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    val expected = byHash.filter(_._2.length > 1)
    assert(rows.length == expected.size)
    rows.foreach { case (h, nCopies, nDocs, keepDoc, keepIdx) =>
      val g = byHash(h)
      assert(nCopies == g.length && nCopies > 1)
      assert(nDocs == g.map(_._2).distinct.length)
      val (minDoc, minIdx) = g.map(t => (t._2, t._3)).min
      assert(keepDoc == minDoc && keepIdx == minIdx,
        s"hash $h keeper ($keepDoc,$keepIdx) != min ($minDoc,$minIdx)")
    }
  }

  test("winnowing: identical docs share a sketch; sub-k docs are empty") {
    val dir = shortDocsDir()
    val rows = TextOps.winnowing(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3))).toMap
    assert(rows.size == 5)
    // docs 0 ("one") and 2 ("") are shorter than k=8 chars: no grams,
    // empty selection, and BOTH get the same empty-set digest
    assert(rows(0L)._2 == 0 && rows(2L)._2 == 0)
    assert(rows(0L)._3 == rows(2L)._3)
    // docs 3 and 4 are byte-identical → identical sketches
    assert(rows(3L)._1 > 0 && rows(3L)._2 > 0)
    assert(rows(3L) == rows(4L))
    // a selection never exceeds the number of windows
    rows.values.foreach { case (gl, nSel, _) =>
      if (gl <= 0) assert(nSel == 0)
      else assert(nSel <= math.max(gl - 3, 1))
    }
  }

  test("quality quantile gate keeps ~70% of each source, all >= threshold") {
    val perSource = graft.Tables(spark, sf, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = TextOps.qualityQuantileFilter(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    rows.foreach { case (src, id, q, thr) =>
      assert(q >= thr, s"doc $id of $src kept below threshold")
    }
    rows.groupBy(_._1).foreach { case (src, g) =>
      val frac = g.length.toDouble / perSource(src)
      // ~70% per source: discrete (rounded) scores put the interpolated
      // threshold between observed values, so the kept fraction floats
      // a few points around 0.7 in either direction
      assert(frac >= 0.6 && frac <= 0.85, s"$src kept $frac")
    }
    assert(rows.map(_._1).distinct.length == perSource.size)
  }

  test("winnow pairs: identical docs pair with their full sketch overlap") {
    // two byte-identical long docs (enough grams for several selected
    // hashes) plus an unrelated one and a sub-k one
    val dir = Files.createTempDirectory("winnowpairs").toString
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"other$i word$i").mkString(" ")
    spark.createDataFrame(Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src0", base.length.toLong),
      (2L, other, "en", "src0", other.length.toLong),
      (3L, "tiny", "en", "src0", 4L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sketch = TextOps.winnowing(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sketch(0L) >= 3, s"fixture too short: ${sketch(0L)} selected")
    val pairs = TextOps.winnowPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the identical docs are the only pair, sharing the whole sketch
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L)))
    assert(pairs.head._3 == sketch(0L),
      s"shared ${pairs.head._3} != sketch size ${sketch(0L)}")
    // corpus-level sanity: ordered pairs, threshold respected
    val corpus = TextOps.winnowPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(corpus.nonEmpty)
    corpus.foreach { case (a, b, n) =>
      assert(a < b && n >= 3, s"bad pair ($a,$b,$n)")
    }
  }

  test("normalized dedup: partitions the corpus, merges case variants") {
    val total = graft.Tables(spark, sf, "documents").count()
    val rows = TextOps.dedupNormalized(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("dup_count")).sum == total)
    // normalization is case/punct-insensitive: hashing the uppercased
    // corpus must yield the identical group structure
    val uppered = graft.Tables(spark, sf, "documents")
      .withColumn("text", org.apache.spark.sql.functions.upper(col("text")))
    val viaUpper = uppered
      .withColumn("norm_hash", sha2(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " ")), 256))
      .groupBy("norm_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val direct = rows
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaUpper == direct)
  }

  test("containment pairs: catches subset docs Jaccard misses") {
    val rows = TextOps.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, ca, cb) =>
      assert(a < b)
      assert(math.max(ca, cb) >= 0.9)
      assert(ca >= 0.0 && ca <= 1.0 && cb >= 0.0 && cb <= 1.0)
    }
    // the op's reason to exist: pairs whose small side is (near-)fully
    // covered while the size imbalance keeps Jaccard under the 0.6
    // resemblance threshold — ngramJaccard structurally misses these
    assert(rows.exists { case (_, _, ca, cb) => math.min(ca, cb) < 0.6 })
    // direct cross-check of a fully-contained pair on raw token sets
    val (a, b, ca, cb) = rows
      .find { case (_, _, x, y) => x == 1.0 || y == 1.0 }
      .getOrElse(fail("no fully-contained pair in the corpus"))
    val toks = graft.Tables(spark, sf, "documents")
      .filter(col("doc_id").isin(a, b))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    if (ca == 1.0) assert(toks(a).subsetOf(toks(b)))
    if (cb == 1.0) assert(toks(b).subsetOf(toks(a)))
  }

  test("containment prefix filter is lossless (PPJoin twin == blocked)") {
    val blocked = TextOps.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val prefix = TextOps.containmentPrefixPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(prefix == blocked,
      s"prefix ${prefix.size} vs blocked ${blocked.size}")
  }

  test("simhash pairs: banding is output-invisible (exact r<=3 recall)") {
    // independent recompute of the 60-bit fingerprints, then the
    // DEFINITIONAL all-pairs hamming join in the driver (500 docs →
    // 125k popcounts) — the banded equi-join must emit exactly this set
    val sh = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), expr(
        "array_distinct(transform(split(text, ' '), v -> " +
          "cast(conv(substring(sha2(v, 256), 1, 15), 16, 10) AS bigint)))")
        .as("fps"))
      .select(col("doc_id"), expr(
        """aggregate(sequence(0, 59), cast(0 AS bigint), (acc, j) -> acc +
          |  CASE WHEN aggregate(fps, cast(0 AS bigint),
          |    (a2, f) -> a2 + (2 * (shiftright(f, j) % 2) - 1)) > 0
          |  THEN shiftleft(cast(1 AS bigint), j)
          |  ELSE cast(0 AS bigint) END)""".stripMargin).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    val got = TextOps.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"banded ${got.size} vs definitional ${want.size}")
    // non-degenerate: the corpus has both exact (h=0) and near (h>0) dups
    assert(got.exists(_._3 == 0) && got.exists(_._3 > 0))
  }

  test("epoch plan: targets exhaust the 3x budget, shares sum to one, " +
    "rare sources get more epochs") {
    val rows = TextOps.epochPlan(spark, sf).collect()
    assert(rows.nonEmpty)
    val avail = rows.map(_.getAs[Long]("avail_tokens"))
    val target = rows.map(_.getAs[Long]("target_tokens"))
    val share = rows.map(_.getAs[Double]("share"))
    val epochs = rows.map(_.getAs[Double]("epochs"))
    // every floor() loses < 1 token: Σ targets within |sources| of 3·N
    val budget = 3L * avail.sum
    assert(target.sum <= budget &&
      target.sum > budget - rows.length, s"${target.sum} vs $budget")
    assert(math.abs(share.sum - 1.0) < 1e-4)
    // α=0.5 upsamples scarcity: epochs strictly decrease in availability
    val byAvail = rows.sortBy(_.getAs[Long]("avail_tokens"))
      .map(_.getAs[Double]("epochs"))
    assert(byAvail.zip(byAvail.tail).forall { case (a, b) => a >= b },
      s"epochs not monotone in scarcity: ${byAvail.mkString(",")}")
    assert(epochs.forall(_ > 0.0))
    // repeat_excess is exactly epochs − 1 floored at zero
    rows.foreach { r =>
      val e = r.getAs[Double]("epochs")
      val x = r.getAs[Double]("repeat_excess")
      assert(math.abs(x - math.max(0.0, e - 1.0)) < 1e-9)
    }
  }

  test("rangedPositionsOn: BIGINT positions stay exact across the " +
      "2^31 boundary (base-offset chaining, synthetic offsets)") {
    import spark.implicits._
    // zero-padded keys sort lexically in numeric order, so the
    // expected rank of doc i is exactly i
    val keyed = (1 to 100).map(i => (i.toLong, f"k$i%03d"))
      .toDF("doc_id", "shuffle_key")
    val base = Int.MaxValue.toLong - 50
    val out = TextOps.rangedPositionsOn(spark, keyed, parts = 8,
      keys = Seq("shuffle_key", "doc_id"), posCol = "pos", base = base)
    assert(out.schema("pos").dataType ==
      org.apache.spark.sql.types.LongType)
    val rows = out.select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // positions continue from base+1 and cross 2^31 without wrapping:
    // an int-typed position column would have gone negative here
    assert(rows == (1 to 100).map(i => (i.toLong, base + i)))
    assert(rows.count(_._2 > Int.MaxValue.toLong) == 50)
    assert(rows.forall(_._2 > 0L))
    // base = 0 (the default) matches the parity twin's row_number
    val plain = TextOps.rangedPositionsOn(spark, keyed, parts = 8,
      keys = Seq("shuffle_key", "doc_id"), posCol = "pos")
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(plain == (1 to 100).map(i => (i.toLong, i.toLong)))
  }
}
