package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-sniffed universal decode — [[Sniff]]'s dispatcher composed
  * with the codec ladder it routes to: the "just hand me bytes"
  * ingest seam a mixed-format corpus dump needs (object stores full
  * of .bin blobs whose extensions lie or are missing). One payload in
  * → the format CHAIN it turned out to be, whether the walk
  * succeeded, and the text surface when the terminal format has one.
  *
  * The walk: sniff → if a compression wrapper (gzip/zstd/xz/bzip2,
  * and the snappy-framing and LZ4-frame stream layers), decompress
  * with the codec [[Sniff.codec]] names and RE-SNIFF the payload —
  * wrappers nest in the wild (`.pdf.gz`, tarballs of zstd shards) —
  * up to a declared depth of 4; terminal formats either carry text
  * (plain text, PDF via the object/content walk, ZIP by recursing
  * into each member and joining the text-bearing ones) or are
  * recognized media/containers (png, flac, …) reported by name with
  * no text. `unknown` and any mid-chain codec refusal surface as
  * ok = false with the chain up to the failure — refuse-don't-guess,
  * the quarantine contract every decoder here shares.
  *
  * Scale shape: a scan-local per-payload kernel inside mapPartitions;
  * the per-step output cap bounds hostile inflation exactly like the
  * individual codec rungs.
  */
object DecodeAny {

  private val MaxDepth = 4
  private val MaxOut = 1 << 26
  private val MaxZipMembers = 1024

  /** (chain ">"-joined, ok, text). */
  def decodeOne(payload: Array[Byte], depth: Int = 0): (List[String], Boolean, Option[String]) = {
    if (payload == null) return (List("unknown"), false, None)
    var p = payload
    val chain = List.newBuilder[String]
    var steps = depth
    while (steps < MaxDepth) {
      val fmt = Sniff.detect(p)
      val unwrap = Sniff.codec(fmt)
      if (unwrap.isDefined) {
        chain += fmt
        unwrap.get(p) match {
          case Some(b) if b.length <= MaxOut => p = b; steps += 1
          case _ => return (chain.result(), false, None)
        }
      } else fmt match {
        case "text" =>
          chain += "text"
          return (chain.result(), true, Some(new String(p, java.nio.charset.StandardCharsets.UTF_8)))
        case "text-latin1" =>
          // legacy single-byte text (round 14): the sniff discipline
          // admits only cp1252-printable bytes, so decode through
          // windows-1252 — the superset real legacy dumps mean when
          // they say "latin1" (0x80–0x9F are its curly-quote row)
          chain += "text-latin1"
          return (chain.result(), true,
            Some(new String(p, java.nio.charset.Charset.forName("windows-1252"))))
        case "pdf" =>
          chain += "pdf"
          return Pdf.extractText(p) match {
            case Some(t) => (chain.result(), true, Some(t))
            case None => (chain.result(), false, None)
          }
        case "zip" =>
          chain += "zip"
          return Zip.entries(p) match {
            case Some(es) if es.length <= MaxZipMembers =>
              // recurse into each member; text-bearing ones join in
              // member order (directories have no data and yield none)
              val texts = es.iterator
                .filterNot(_.name.endsWith("/"))
                .flatMap(e => decodeOne(e.data, steps + 1)._3)
                .toSeq
              (chain.result(), true,
                if (texts.nonEmpty) Some(texts.mkString("\n")) else None)
            case _ => (chain.result(), false, None)
          }
        case "tar" =>
          // same member recursion as zip — tar.gz reaches here through
          // the gzip rung and is THE corpus shipping format
          chain += "tar"
          return Tar.entries(p) match {
            case Some(es) if es.length <= MaxZipMembers =>
              val texts = es.iterator
                .filter(_.typeflag == '0') // Tar normalizes NUL to '0'
                .flatMap(e => decodeOne(e.data, steps + 1)._3)
                .toSeq
              (chain.result(), true,
                if (texts.nonEmpty) Some(texts.mkString("\n")) else None)
            case _ => (chain.result(), false, None)
          }
        case "unknown" =>
          chain += "unknown"
          return (chain.result(), false, None)
        case media =>
          // recognized terminal format without a text surface
          chain += media
          return (chain.result(), true, None)
      }
    }
    (chain.result(), false, None) // wrapper depth exhausted
  }

  /** (id, chain, ok, text) per payload — scan-local. */
  def decode(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val (chain, ok, text) = decodeOne(p)
        (id, chain.mkString(">"), ok, text.orNull)
      })
      .toDF("id", "chain", "ok", "text")
  }
}
