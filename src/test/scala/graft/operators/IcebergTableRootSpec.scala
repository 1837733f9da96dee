package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Iceberg table-root composition (metadata.json → manifest-list →
  * manifests): the gated dangling-snapshot class, the claims audit,
  * and the missing-manifest boundary — the cases q402's closed-form
  * oracle plants, pinned here at unit scale with hand-built tables.
  */
class IcebergTableRootSpec extends SparkSpec {

  import spark.implicits._
  import IcebergOps._

  private def frames(ks: Seq[Long]) = {
    val meta = ks.map(k => (k, syntheticTable(k)._1)).toDF("tbl", "meta_json")
    val lists = ks.map { k =>
      val t = syntheticTable(k); (k, t._2, t._3)
    }.toDF("tbl", "path", "payload")
    val mans = ks.flatMap(k => syntheticTable(k)._4.map {
      case (p, b) => (k, p, b)
    }).toDF("tbl", "path", "payload")
    (meta, lists, mans)
  }

  private def census(meta: org.apache.spark.sql.DataFrame,
                     lists: org.apache.spark.sql.DataFrame,
                     mans: org.apache.spark.sql.DataFrame) =
    tableRootCensus(meta, "tbl", "meta_json", lists, "tbl", "path", "payload",
      mans, "tbl", "path", "payload")
      .collect().map(r => r.getAs[Long]("tbl") -> r).toMap

  test("healthy table: list claims verify against decoded manifests, live set sums") {
    val (meta, lists, mans) = frames(Seq(5L))
    val c = census(meta, lists, mans)(5L)
    // k=5: nM = 3 manifests, current ok, no planted drift
    assert(c.getAs[Long]("current_ok") == 1 && c.getAs[Long]("list_valid") == 1)
    assert(c.getAs[Long]("n_manifest_files") == 3)
    assert(c.getAs[Long]("n_claims_mismatch") == 0)
    assert(c.getAs[Long]("n_manifests_missing") == 0)
    assert(c.getAs[Long]("n_snapshots") == 2 && c.getAs[Long]("spec_id") == 1)
    // live set: manifests i=0..2, nE = 2+(5+i)%3, status (i+j+5)%3
    val want = (0 until 3).flatMap { i =>
      (0 until (2 + (5 + i) % 3)).filter(j => (i + j + 5) % 3 != 2)
    }.size
    assert(c.getAs[Long]("n_live") == want.toLong)
  }

  test("a dangling current-snapshot-id gates every downstream facet to zero") {
    val (meta, lists, mans) = frames(Seq(17L))
    val c = census(meta, lists, mans)(17L)
    assert(c.getAs[Long]("current_ok") == 0, c.toString)
    assert(c.getAs[Long]("list_valid") == 0 && c.getAs[Long]("n_manifest_files") == 0)
    assert(c.getAs[Long]("n_live") == 0 && c.getAs[Long]("live_bytes") == 0)
    // the metadata facets themselves still report (they were readable)
    assert(c.getAs[Long]("n_snapshots") == 2 && c.getAs[Long]("format_version") == 2)
  }

  test("a wrong file-count claim in the list is a mismatch, not trusted") {
    val (meta, lists, mans) = frames(Seq(13L)) // k=13: planted claim drift
    val c = census(meta, lists, mans)(13L)
    assert(c.getAs[Long]("n_claims_mismatch") == 1, c.toString)
  }

  test("positional deletes: idempotent pairs, orphans, impossible positions — all separated") {
    val files = Seq((1L, "a", 10L), (1L, "b", 5L), (2L, "a", 3L))
      .toDF("tbl", "path", "rc")
    val dels = Seq(
      (1L, "a", 0L), (1L, "a", 1L), (1L, "a", 1L), // dup pair applies once
      (1L, "b", 4L), (1L, "b", 5L), // 5 >= rc: impossible row
      (1L, "ghost", 0L), // orphan
      (2L, "a", 2L)).toDF("tbl", "path", "pos")
    val out = IcebergOps.positionalDeleteAudit(files, "tbl", "path", "rc",
      dels, "tbl", "path", "pos").collect().map(r => r.getAs[Long]("tbl") -> r).toMap
    val t1 = out(1L)
    assert(t1.getAs[Long]("n_files") == 2 && t1.getAs[Long]("total_rows") == 15)
    assert(t1.getAs[Long]("n_deletes_applied") == 3, "a:{0,1} + b:{4}")
    assert(t1.getAs[Long]("net_rows") == 12)
    assert(t1.getAs[Long]("n_invalid_pos") == 1 && t1.getAs[Long]("n_orphan_deletes") == 1)
    assert(t1.getAs[Long]("n_dup_deletes") == 1)
    val t2 = out(2L)
    assert(t2.getAs[Long]("net_rows") == 2 && t2.getAs[Long]("n_dup_deletes") == 0)
  }

  test("equality-delete bounds: candidates by zone map, bounds-less always at risk, rows counted once") {
    val files = Seq(
      (1L, "a", 10L, Some(0L), Some(9L)),
      (1L, "b", 20L, Some(10L), Some(19L)),
      (1L, "c", 30L, None, None), // bounds-less: always a candidate
      (2L, "x", 7L, Some(0L), Some(99L))) // table 2 has NO delete keys
      .toDF("tbl", "path", "rc", "lo", "hi")
    val dels = Seq((1L, 3L), (1L, 5L), (1L, 500L)) // two keys hit a, one hits nothing bounded
      .toDF("tbl", "key")
    val out = IcebergOps.equalityDeleteBounds(files, "tbl", "path", "rc",
      "lo", "hi", dels, "tbl", "key")
      .collect().map(r => r.getAs[Long]("tbl") -> r).toMap
    val t1 = out(1L)
    assert(t1.getAs[Long]("n_eq_keys") == 3)
    // candidates: a (keys 3 and 5 — counted ONCE) + c (no bounds); b never
    assert(t1.getAs[Long]("n_candidate_files") == 2, t1.toString)
    assert(t1.getAs[Long]("rows_at_risk") == 40)
    assert(t1.getAs[Long]("net_rows_min") == 20 && t1.getAs[Long]("net_rows_max") == 60)
    assert(t1.getAs[Long]("n_files_no_bounds") == 1)
    val t2 = out(2L)
    assert(t2.getAs[Long]("n_eq_keys") == 0 && t2.getAs[Long]("n_candidate_files") == 0)
    assert(t2.getAs[Long]("net_rows_min") == 7 && t2.getAs[Long]("net_rows_max") == 7)
  }

  test("a delete-free table reports its files untouched") {
    val files = Seq((9L, "only", 42L)).toDF("tbl", "path", "rc")
    val dels = Seq.empty[(Long, String, Long)].toDF("tbl", "path", "pos")
    val out = IcebergOps.positionalDeleteAudit(files, "tbl", "path", "rc",
      dels, "tbl", "path", "pos").collect()(0)
    assert(out.getAs[Long]("n_files") == 1 && out.getAs[Long]("net_rows") == 42)
    assert(out.getAs[Long]("n_deletes_applied") == 0)
  }

  test("a named-but-absent manifest counts missing; present ones still census") {
    val (meta, lists, mans) = frames(Seq(5L))
    val dropped = mans.filter(col("path") =!= "m1.avro")
    val c = census(meta, lists, dropped)(5L)
    assert(c.getAs[Long]("n_manifests_missing") == 1, c.toString)
    assert(c.getAs[Long]("n_manifest_files") == 3, "the list still names 3")
    val full = census(meta, lists, mans)(5L)
    assert(c.getAs[Long]("n_live") < full.getAs[Long]("n_live"),
      "missing manifest's entries must NOT be guessed into the live set")
  }

  // ---- snapshot lineage (round-15 item 5)

  private def chainFrames(ks: Seq[Long]) = {
    val trip = ks.map { k =>
      val (m, ls, ms) = syntheticSnapshotChain(k); (k, m, ls, ms)
    }
    val meta = trip.map(t => (t._1, t._2)).toDF("tbl", "meta_json")
    val lists = trip.flatMap(t => t._3.map { case (p, b) => (t._1, p, b) })
      .toDF("tbl", "path", "payload")
    val mans = trip.flatMap(t => t._4.map { case (p, b) => (t._1, p, b) })
      .toDF("tbl", "path", "payload")
    IcebergOps.snapshotFiles(meta, "tbl", "meta_json",
      lists, "tbl", "path", "payload", mans, "tbl", "path", "payload")
  }

  test("snapshot diff: append, fast-forward and rewrite signatures separate") {
    // k=4 class0 append, k=5 class1 fast-forward, k=6 class2 rewrite,
    // k=7 class3 delete
    val d = IcebergOps.snapshotDiff(chainFrames(Seq(4L, 5L, 6L, 7L)))
      .orderBy("tbl").collect()
    val append = d(0)
    assert(append.getAs[Long]("n_added") == 1 && append.getAs[Long]("net_row_delta") == 16)
    assert(append.getAs[Long]("fast_forward") == 0 && append.getAs[Long]("rewrite") == 0)
    val ff = d(1)
    assert(ff.getAs[Long]("n_added") == 0 && ff.getAs[Long]("n_removed") == 0)
    assert(ff.getAs[Long]("fast_forward") == 1 && ff.getAs[Long]("rewrite") == 0)
    val rw = d(2)
    assert(rw.getAs[Long]("n_added") == 1 && rw.getAs[Long]("n_removed") == 2)
    assert(rw.getAs[Long]("net_row_delta") == 0 && rw.getAs[Long]("rewrite") == 1)
    assert(rw.getAs[Long]("fast_forward") == 0)
    val del = d(3)
    assert(del.getAs[Long]("n_removed") == 1 && del.getAs[Long]("net_row_delta") == -14)
  }

  test("a snapshot that cannot be fully enumerated declines the whole diff") {
    val d = IcebergOps.snapshotDiff(chainFrames(Seq(11L))).collect()(0)
    assert(d.getAs[Long]("diff_ok") == 0 && d.getAs[Long]("cur_files") == 0)
    assert(d.getAs[Long]("n_added") == 0 && d.getAs[Long]("fast_forward") == 0,
      d.toString)
  }
}
