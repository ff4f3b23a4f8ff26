package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Partitioning.PackOps

/** The WebDataset convention over tar shards — the de-facto
  * multimodal training-data sharding layout (a plain POSIX tar whose
  * member files group into SAMPLES by shared basename stem:
  * `0001.jpg` + `0001.json` + `0001.txt` is one three-part sample).
  * Built on the from-spec [[Tar]] walk; the convention itself is
  * from the published format notes (webdataset/wids docs):
  *
  *  - the sample KEY is the member path minus the extension, where
  *    the extension is everything after the FIRST dot of the
  *    basename — so `dir/a.b/0001.seg.png` has key `dir/a.b/0001`
  *    and part name `seg.png` (multi-dot extensions are one part
  *    name, and dots in DIRECTORY names don't split);
  *  - sample parts are stored contiguously in the shard, so grouping
  *    is by ADJACENCY in a single streaming pass (the trait that
  *    makes the format sequentially readable at scale) — same-key
  *    members separated by another key are distinct samples, exactly
  *    as a streaming reader would see them;
  *  - members with no extension (and dotfiles) are metadata, skipped;
  *    non-regular members (dirs, links) are skipped.
  *
  * Scale shape: shards are the parallelism unit (one binary row per
  * shard through the `binaryFile` seam); the adjacency grouping is
  * scan-local — one pass, no shuffle, state bounded by one sample.
  * Malformed shards quarantine as `sample_index = -1` rows.
  */
object WebDataset {

  /** (key, part name) per the first-dot-of-basename rule; None for
    * extensionless members and dotfiles (skipped by convention). */
  private[graft] def splitKey(name: String): Option[(String, String)] = {
    val slash = name.lastIndexOf('/')
    val base = name.substring(slash + 1)
    val dot = base.indexOf('.')
    if (dot <= 0) None
    else Some((name.substring(0, slash + 1 + dot), base.substring(dot + 1)))
  }

  /** One streaming pass over a shard's members: adjacent regular
    * files sharing a key become one sample (key, parts). */
  private[graft] def samplesOf(entries: Seq[Tar.Entry]): Vector[(String, Map[String, Array[Byte]])] = {
    val out = Vector.newBuilder[(String, Map[String, Array[Byte]])]
    var curKey: String = null
    var parts = Map.empty[String, Array[Byte]]
    entries.foreach { e =>
      if (e.typeflag == '0') splitKey(e.name) match {
        case Some((key, part)) =>
          if (key != curKey) {
            if (curKey != null) out += ((curKey, parts))
            curKey = key
            parts = Map.empty
          }
          parts += (part -> e.data)
        case None => ()
      }
    }
    if (curKey != null) out += ((curKey, parts))
    out.result()
  }

  /** Sample rows across shards: (file_id, sample_index, key, parts),
    * `parts` a part-name → bytes map. Malformed shards quarantine as
    * sample_index = -1. */
  def samples(df: DataFrame, fileIdCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(fileIdCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (fileId, payload) =>
        Sniff.decompress(payload).flatMap(Tar.entries) match {
          case Some(es) => samplesOf(es).zipWithIndex.map { case ((key, parts), i) =>
            (fileId, i, key, parts)
          }
          case None =>
            Seq((fileId, -1, null: String, null: Map[String, Array[Byte]]))
        }
      }
      .toDF("file_id", "sample_index", "key", "parts")
  }

  /** Gate packer: documents → `nFiles` .tar shards in the WebDataset
    * layout — each doc one sample of two parts, `doc<id>.txt` (the
    * text) and `doc<id>.meta.json` (lang + source as JSON; the
    * multi-dot part name makes the first-dot rule load-bearing). */
  def packDocsWds(df: DataFrame, idCol: String, sourceCol: String, langCol: String,
      textCol: String, nFiles: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), coalesce(col(sourceCol), lit("")),
        coalesce(col(langCol), lit("")), coalesce(col(textCol), lit("")))
      .as[(Long, String, String, String)]
      .packGroups(nFiles)(r => java.lang.Math.floorMod(r._1, nFiles.toLong)) { (fileId, rows) =>
        val members = rows.toSeq.sortBy(_._1).flatMap { case (id, src, lang, text) =>
          val json = s"""{"lang":${jsonStr(lang)},"source":${jsonStr(src)}}"""
          Seq(
            (s"doc$id.txt", text.getBytes(StandardCharsets.UTF_8)),
            (s"doc$id.meta.json", json.getBytes(StandardCharsets.UTF_8)))
        }
        (fileId, Tar.tarOf(members))
      }
      .toDF("file_id", "payload")
  }

  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
