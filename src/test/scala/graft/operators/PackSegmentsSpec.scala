package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpecBase, Tables}

/** Tiling invariants of the pack manifest — the properties a training
  * loader depends on that the oracle's value-equality can't localize:
  * every pack except the last holds EXACTLY 2048 tokens with segments
  * laid contiguously from offset 0, and every document's segments tile
  * [0, nt) contiguously across the packs it spans. The declared row is
  * also checked against an independent reference kernel: one global
  * running-sum window over (doc_id, nt), cut into 2048-token packs.
  */
class PackSegmentsSpec extends SparkSpecBase {

  test("packs fill exactly; documents tile contiguously") {
    val rows = TextOps.packSegments(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val lastPack = rows.map(_._1).max

    // per pack: segments ordered by seg_idx are contiguous from 0 and
    // full packs sum to exactly 2048
    rows.groupBy(_._1).foreach { case (pack, segs) =>
      val sorted = segs.sortBy(_._2)
      var off = 0L
      sorted.foreach { case (_, _, _, _, segLen, packOff) =>
        assert(packOff == off, s"pack $pack: gap at offset $off")
        assert(segLen > 0, s"pack $pack: empty segment")
        off += segLen
      }
      if (pack != lastPack)
        assert(off == 2048L, s"pack $pack holds $off tokens, want 2048")
      else assert(off <= 2048L)
    }

    // per doc: segments ordered by pack tile [0, nt) contiguously
    rows.groupBy(_._3).foreach { case (doc, segs) =>
      val sorted = segs.sortBy(_._1)
      var from = 0L
      sorted.foreach { case (_, _, _, docFrom, segLen, _) =>
        assert(docFrom == from, s"doc $doc: segment gap at $from")
        from += segLen
      }
      // a doc spanning k packs has exactly k segments — and its total
      // tiles the whole doc (checked against an independent recount)
    }
    val nt = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("doc_id", "size(split(text, ' ')) AS nt")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    rows.groupBy(_._3).foreach { case (doc, segs) =>
      assert(segs.map(_._5).sum == nt(doc),
        s"doc $doc: segments cover ${segs.map(_._5).sum} of ${nt(doc)}")
    }
  }

  test("docs_pack_segments == the global running-sum window reference") {
    val sf = "/root/testdata/sf0.001"
    val fromQuery = SparkEntry.queries("docs_pack_segments")(spark, sf)
      .select("pack_id", "doc_id", "doc_from", "seg_len", "pack_off")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

    // reference: e = running token sum over ONE unpartitioned window,
    // s = e - nt the doc's start; each doc explodes into the packs
    // [s / B, (e - 1) / B] it overlaps (seg_idx is not ranked here)
    val B = 2048L
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fromReference = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("nt"))
      .withColumn("e", sum("nt").over(w))
      .withColumn("s", col("e") - col("nt"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("nt"), col("s"),
        explode(expr(s"sequence(s div $B, (e - 1) div $B)")).as("pack_id"))
      .select(col("pack_id"), col("doc_id"),
        greatest(lit(0L), col("pack_id") * B - col("s")).as("doc_from"),
        (least(col("nt"), (col("pack_id") + 1) * B - col("s")) -
          greatest(lit(0L), col("pack_id") * B - col("s"))).as("seg_len"),
        greatest(col("s") - col("pack_id") * B, lit(0L)).as("pack_off"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(fromReference == fromQuery)
  }
}
