package graft

import org.apache.spark.sql.DataFrame

/** Byte-exact pins of the committed `_manifest.json` of every snapshot
  * one fixed sequence of store mutations produces. Committed snapshot
  * names are deterministic (`snap_N`), so the manifest text is too: the
  * pins hold every channel's path list, partition/sort tags and the
  * bloom blob's (capacity, estItems) name across full writes, appends,
  * gated folds, re-derivations and compaction — the manifest-merge rule
  * of every write/append family, checked verbatim. */
class ManifestPinSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pin-$tag").toString

  private def gdocs(ids: Range, src: String, shift: Long = 0L): DataFrame =
    ids.map { i =>
      (i.toLong, s"alpha token$i beta${i % 3} gamma delta${i % 2} omega${i % 5}",
        src, 120L + (i % 3) * 40 + shift)
    }.toDF("doc_id", "text", "source", "n_chars")

  private def vecsOf(ids: Range): DataFrame = ids.map { i =>
    val ang = (i % 8) * math.Pi / 4 + 0.1
    (i.toLong, i % 4, Seq(math.cos(ang), math.sin(ang)))
  }.toDF("vec_id", "label", "unit")

  private def rawOf(ids: Range): DataFrame =
    vecsOf(ids).withColumnRenamed("unit", "embedding")

  private def paysOf(ids: Range): DataFrame = ids.map { i =>
    (i.toLong, s"payload body $i common prefix stream".getBytes("UTF-8"))
  }.toDF("doc_id", "payload")

  private def projOf(ids: Range) =
    (ops.Similarity.projectedUnitsOf(rawOf(ids), 32),
      ops.Similarity.exactVecsOf(rawOf(ids)))

  private val cents = Seq(
    (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
    (2L, Seq(-1.0, 0.0)), (3L, Seq(0.0, -1.0))).toDF("cid", "cvec")

  /** Every committed snapshot's manifest text, oldest first. */
  private def manifests(root: String): Seq[String] =
    ops.IndexStore.history(root).map(snap => java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, snap, "_manifest.json")))

  private def check(store: String, root: String, want: Seq[String]): Unit = {
    val got = manifests(root)
    assert(got.size == want.size,
      s"$store: ${got.size} committed snapshots, pinned ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"$store: manifest of snapshot ${i + 1} moved:\n$g")
    }
  }

  test("unified store: writeUnified (every family), appendUnified, docs-only fold, appendUnifiedGated, compact") {
    val root = tmp("uni")
    ops.IndexStore.writeUnified(spark,
      gdocs(0 to 39, "src0").unionByName(gdocs(40 to 59, "srcA")),
      vecsOf(0 to 59), cents, root, governed = true,
      proj = Some(projOf(0 to 59)), payloads = Some(paysOf(0 to 59)))
    ops.IndexStore.appendUnified(spark, root, gdocs(60 to 69, "srcA"),
      vecsOf(60 to 69), raw = Some(rawOf(60 to 69)),
      payloads = Some(paysOf(60 to 69)))
    ops.IndexStore.appendUnified(spark, root, gdocs(70 to 74, "srcA"),
      vecsOf(0 until 0))
    val rep = ops.IndexStore.appendUnifiedGated(spark, root,
      gdocs(75 to 94, "srcB").unionByName(gdocs(95 to 114, "srcRot", 480L)),
      vecsOf(75 to 114), "src0", raw = Some(rawOf(75 to 114)),
      payloads = Some(paysOf(75 to 114)))
    assert(rep.filter($"held").select($"source").as[String].collect().toSeq ==
      Seq("srcRot"), "the gated fold must hold exactly the drifted source")
    ops.IndexStore.compact(spark, root)
    check("unified", root, ManifestPinSpec.unified)
  }

  test("dedup store: governed write, append, writeClusters, label-delta append, reanchorCensus") {
    val root = tmp("dedup")
    ops.IndexStore.write(spark, gdocs(0 to 29, "src0"), root, governed = true)
    ops.IndexStore.append(spark, root, gdocs(30 to 39, "srcA"))
    ops.IndexStore.writeClusters(spark, gdocs(0 to 39, "src0"), root)
    ops.IndexStore.append(spark, root, gdocs(40 to 49, "srcA"))
    ops.IndexStore.reanchorCensus(spark, root, "src0", gdocs(100 to 119, "src0"))
    check("dedup", root, ManifestPinSpec.dedup)
  }

  test("text, vector, projected and media stores: write/append, writeProjections, reprojectVectors, retrainVectors") {
    val text = tmp("text")
    ops.IndexStore.writeText(spark, gdocs(0 to 9, "src0"), text)
    ops.IndexStore.appendText(spark, text, gdocs(10 to 19, "src0"))
    check("text", text, ManifestPinSpec.text)
    val vec = tmp("vec")
    ops.IndexStore.writeVectors(spark, vecsOf(0 to 39), cents, vec)
    val (units, fine) = projOf(0 to 39)
    ops.IndexStore.writeProjections(spark, vec, units, fine)
    ops.IndexStore.appendVectors(spark, vec, vecsOf(40 to 49),
      raw = Some(rawOf(40 to 49)))
    ops.IndexStore.reprojectVectors(spark, vec, 16)
    ops.IndexStore.retrainVectors(spark, vec)
    check("vector", vec, ManifestPinSpec.vector)
    val media = tmp("media")
    ops.IndexStore.writeMedia(spark, paysOf(0 to 9), media)
    ops.IndexStore.appendMedia(spark, media, paysOf(10 to 19))
    check("media", media, ManifestPinSpec.media)
  }
}

object ManifestPinSpec {
  val unified: Seq[String] = Seq(
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000001/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000001/centroids"], "partition_by": "", "sort": ""},
       |    "doc_lens": {"paths": ["snap_00000001/doc_lens"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000001/exact_vecs"], "partition_by": "", "sort": ""},
       |    "media_sim_blocks": {"paths": ["snap_00000001/media_sim_blocks"], "partition_by": "b", "sort": ""},
       |    "media_stats": {"paths": ["snap_00000001/media_stats"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000001/mix_census"], "partition_by": "", "sort": ""},
       |    "postings": {"paths": ["snap_00000001/postings"], "partition_by": "", "sort": "term,doc_id"},
       |    "proj_stats": {"paths": ["snap_00000001/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000001/proj_units"], "partition_by": "", "sort": ""},
       |    "stats": {"paths": ["snap_00000001/stats"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000001/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000001/cells", "snap_00000002/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000001/centroids"], "partition_by": "", "sort": ""},
       |    "doc_lens": {"paths": ["snap_00000001/doc_lens", "snap_00000002/doc_lens"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000001/exact_vecs", "snap_00000002/exact_vecs"], "partition_by": "", "sort": ""},
       |    "media_sim_blocks": {"paths": ["snap_00000001/media_sim_blocks", "snap_00000002/media_sim_blocks"], "partition_by": "b", "sort": ""},
       |    "media_stats": {"paths": ["snap_00000002/media_stats"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000001/mix_census", "snap_00000002/mix_census"], "partition_by": "", "sort": ""},
       |    "postings": {"paths": ["snap_00000001/postings", "snap_00000002/postings"], "partition_by": "", "sort": "term,doc_id"},
       |    "proj_stats": {"paths": ["snap_00000002/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000001/proj_units", "snap_00000002/proj_units"], "partition_by": "", "sort": ""},
       |    "stats": {"paths": ["snap_00000002/stats"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000002/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000001/cells", "snap_00000002/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000001/centroids"], "partition_by": "", "sort": ""},
       |    "doc_lens": {"paths": ["snap_00000001/doc_lens", "snap_00000002/doc_lens", "snap_00000003/doc_lens"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000001/exact_vecs", "snap_00000002/exact_vecs"], "partition_by": "", "sort": ""},
       |    "media_sim_blocks": {"paths": ["snap_00000001/media_sim_blocks", "snap_00000002/media_sim_blocks"], "partition_by": "b", "sort": ""},
       |    "media_stats": {"paths": ["snap_00000002/media_stats"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000001/mix_census", "snap_00000002/mix_census", "snap_00000003/mix_census"], "partition_by": "", "sort": ""},
       |    "postings": {"paths": ["snap_00000001/postings", "snap_00000002/postings", "snap_00000003/postings"], "partition_by": "", "sort": "term,doc_id"},
       |    "proj_stats": {"paths": ["snap_00000002/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000001/proj_units", "snap_00000002/proj_units"], "partition_by": "", "sort": ""},
       |    "stats": {"paths": ["snap_00000003/stats"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000002/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000001/cells", "snap_00000002/cells", "snap_00000004/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000001/centroids"], "partition_by": "", "sort": ""},
       |    "doc_lens": {"paths": ["snap_00000001/doc_lens", "snap_00000002/doc_lens", "snap_00000003/doc_lens", "snap_00000004/doc_lens"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000001/exact_vecs", "snap_00000002/exact_vecs", "snap_00000004/exact_vecs"], "partition_by": "", "sort": ""},
       |    "media_sim_blocks": {"paths": ["snap_00000001/media_sim_blocks", "snap_00000002/media_sim_blocks", "snap_00000004/media_sim_blocks"], "partition_by": "b", "sort": ""},
       |    "media_stats": {"paths": ["snap_00000004/media_stats"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000001/mix_census", "snap_00000002/mix_census", "snap_00000003/mix_census", "snap_00000004/mix_census"], "partition_by": "", "sort": ""},
       |    "postings": {"paths": ["snap_00000001/postings", "snap_00000002/postings", "snap_00000003/postings", "snap_00000004/postings"], "partition_by": "", "sort": "term,doc_id"},
       |    "proj_stats": {"paths": ["snap_00000004/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000001/proj_units", "snap_00000002/proj_units", "snap_00000004/proj_units"], "partition_by": "", "sort": ""},
       |    "stats": {"paths": ["snap_00000004/stats"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000004/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000005/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000005/centroids"], "partition_by": "", "sort": ""},
       |    "doc_lens": {"paths": ["snap_00000005/doc_lens"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000005/exact_vecs"], "partition_by": "", "sort": ""},
       |    "media_sim_blocks": {"paths": ["snap_00000005/media_sim_blocks"], "partition_by": "b", "sort": ""},
       |    "media_stats": {"paths": ["snap_00000005/media_stats"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000005/mix_census"], "partition_by": "", "sort": ""},
       |    "postings": {"paths": ["snap_00000005/postings"], "partition_by": "", "sort": "term,doc_id"},
       |    "proj_stats": {"paths": ["snap_00000005/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000005/proj_units"], "partition_by": "", "sort": ""},
       |    "stats": {"paths": ["snap_00000005/stats"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000005/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin)
  val dedup: Seq[String] = Seq(
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "band_keys": {"paths": ["snap_00000001/band_keys"], "partition_by": "band", "sort": ""},
       |    "bloom": {"paths": ["snap_00000001/bloom/fingerprints.c1024.n30.bloom"], "partition_by": "", "sort": ""},
       |    "fingerprints": {"paths": ["snap_00000001/fingerprints"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000001/mix_census"], "partition_by": "", "sort": ""},
       |    "sim_blocks": {"paths": ["snap_00000001/sim_blocks"], "partition_by": "b", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "band_keys": {"paths": ["snap_00000001/band_keys", "snap_00000002/band_keys"], "partition_by": "band", "sort": ""},
       |    "bloom": {"paths": ["snap_00000002/bloom/fingerprints.c1024.n40.bloom"], "partition_by": "", "sort": ""},
       |    "fingerprints": {"paths": ["snap_00000001/fingerprints", "snap_00000002/fingerprints"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000001/mix_census", "snap_00000002/mix_census"], "partition_by": "", "sort": ""},
       |    "sim_blocks": {"paths": ["snap_00000001/sim_blocks", "snap_00000002/sim_blocks"], "partition_by": "b", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "band_keys": {"paths": ["snap_00000001/band_keys", "snap_00000002/band_keys"], "partition_by": "band", "sort": ""},
       |    "bloom": {"paths": ["snap_00000002/bloom/fingerprints.c1024.n40.bloom"], "partition_by": "", "sort": ""},
       |    "cluster_labels": {"paths": ["snap_00000003/cluster_labels"], "partition_by": "", "sort": ""},
       |    "fingerprints": {"paths": ["snap_00000001/fingerprints", "snap_00000002/fingerprints"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000001/mix_census", "snap_00000002/mix_census"], "partition_by": "", "sort": ""},
       |    "sim_blocks": {"paths": ["snap_00000001/sim_blocks", "snap_00000002/sim_blocks"], "partition_by": "b", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "band_keys": {"paths": ["snap_00000001/band_keys", "snap_00000002/band_keys", "snap_00000004/band_keys"], "partition_by": "band", "sort": ""},
       |    "bloom": {"paths": ["snap_00000004/bloom/fingerprints.c1024.n50.bloom"], "partition_by": "", "sort": ""},
       |    "cluster_labels": {"paths": ["snap_00000003/cluster_labels", "snap_00000004/cluster_labels"], "partition_by": "", "sort": ""},
       |    "fingerprints": {"paths": ["snap_00000001/fingerprints", "snap_00000002/fingerprints", "snap_00000004/fingerprints"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000001/mix_census", "snap_00000002/mix_census", "snap_00000004/mix_census"], "partition_by": "", "sort": ""},
       |    "sim_blocks": {"paths": ["snap_00000001/sim_blocks", "snap_00000002/sim_blocks", "snap_00000004/sim_blocks"], "partition_by": "b", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "band_keys": {"paths": ["snap_00000001/band_keys", "snap_00000002/band_keys", "snap_00000004/band_keys"], "partition_by": "band", "sort": ""},
       |    "bloom": {"paths": ["snap_00000004/bloom/fingerprints.c1024.n50.bloom"], "partition_by": "", "sort": ""},
       |    "cluster_labels": {"paths": ["snap_00000003/cluster_labels", "snap_00000004/cluster_labels"], "partition_by": "", "sort": ""},
       |    "fingerprints": {"paths": ["snap_00000001/fingerprints", "snap_00000002/fingerprints", "snap_00000004/fingerprints"], "partition_by": "", "sort": ""},
       |    "mix_census": {"paths": ["snap_00000005/mix_census"], "partition_by": "", "sort": ""},
       |    "sim_blocks": {"paths": ["snap_00000001/sim_blocks", "snap_00000002/sim_blocks", "snap_00000004/sim_blocks"], "partition_by": "b", "sort": ""}
       |  }
       |}
       |""".stripMargin)
  val text: Seq[String] = Seq(
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "doc_lens": {"paths": ["snap_00000001/doc_lens"], "partition_by": "", "sort": ""},
       |    "postings": {"paths": ["snap_00000001/postings"], "partition_by": "", "sort": "term,doc_id"},
       |    "stats": {"paths": ["snap_00000001/stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "doc_lens": {"paths": ["snap_00000001/doc_lens", "snap_00000002/doc_lens"], "partition_by": "", "sort": ""},
       |    "postings": {"paths": ["snap_00000001/postings", "snap_00000002/postings"], "partition_by": "", "sort": "term,doc_id"},
       |    "stats": {"paths": ["snap_00000002/stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin)
  val vector: Seq[String] = Seq(
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000001/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000001/centroids"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000001/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000001/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000001/centroids"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000002/exact_vecs"], "partition_by": "", "sort": ""},
       |    "proj_stats": {"paths": ["snap_00000002/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000002/proj_units"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000001/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000001/cells", "snap_00000003/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000001/centroids"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000002/exact_vecs", "snap_00000003/exact_vecs"], "partition_by": "", "sort": ""},
       |    "proj_stats": {"paths": ["snap_00000003/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000002/proj_units", "snap_00000003/proj_units"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000003/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000001/cells", "snap_00000003/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000001/centroids"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000002/exact_vecs", "snap_00000003/exact_vecs"], "partition_by": "", "sort": ""},
       |    "proj_stats": {"paths": ["snap_00000004/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000004/proj_units"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000003/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "cells": {"paths": ["snap_00000005/cells"], "partition_by": "cid", "sort": ""},
       |    "centroids": {"paths": ["snap_00000005/centroids"], "partition_by": "", "sort": ""},
       |    "exact_vecs": {"paths": ["snap_00000002/exact_vecs", "snap_00000003/exact_vecs"], "partition_by": "", "sort": ""},
       |    "proj_stats": {"paths": ["snap_00000004/proj_stats"], "partition_by": "", "sort": ""},
       |    "proj_units": {"paths": ["snap_00000004/proj_units"], "partition_by": "", "sort": ""},
       |    "vec_stats": {"paths": ["snap_00000005/vec_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin)
  val media: Seq[String] = Seq(
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "media_sim_blocks": {"paths": ["snap_00000001/media_sim_blocks"], "partition_by": "b", "sort": ""},
       |    "media_stats": {"paths": ["snap_00000001/media_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin,
    """|{
       |  "format_version": 1,
       |  "channels": {
       |    "media_sim_blocks": {"paths": ["snap_00000001/media_sim_blocks", "snap_00000002/media_sim_blocks"], "partition_by": "b", "sort": ""},
       |    "media_stats": {"paths": ["snap_00000002/media_stats"], "partition_by": "", "sort": ""}
       |  }
       |}
       |""".stripMargin)
}
