package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One sink to read back after a run, with what it must hold. */
final case class SinkCheck(
    name: String, format: String, path: String, columns: Seq[String],
    rows: Long, digest: String)

/** One pipeline of a workload: its spec JSON (sink paths already pointing
  * at this process's output directory) and the expected sink contents. */
final case class Pipe(name: String, specJson: String, inputRows: Long, sinks: Seq[SinkCheck])

/** A compression job: `src` (plain jsonl) encoded into `dst` with `codec`. */
final case class Compress(src: String, dst: String, codec: String)

/** What `gen.py` wrote for one (workload, seed, size). */
final case class Manifest(
    workload: String, seed: Long, catalog: Option[String],
    compress: Seq[Compress], pipelines: Seq[Pipe])

object Manifest {
  private val OutToken = "@OUT@"

  def load(path: Path, outDir: Path): Manifest = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(path))
    val out = outDir.toAbsolutePath.toString
    def sub(s: String) = s.replace(OutToken, out)
    Manifest(
      workload = (j \ "workload").extract[String],
      seed = (j \ "seed").extract[Long],
      catalog = (j \ "catalog").extractOpt[String],
      compress = (j \ "compress").children.map(c =>
        Compress((c \ "src").extract[String], (c \ "dst").extract[String],
          (c \ "codec").extract[String])),
      pipelines = (j \ "pipelines").children.map { p =>
        Pipe((p \ "name").extract[String], sub((p \ "spec").extract[String]),
          (p \ "input_rows").extract[Long],
          (p \ "sinks").children.map(s => SinkCheck(
            (s \ "name").extract[String], (s \ "format").extract[String],
            sub((s \ "path").extract[String]), (s \ "columns").extract[Seq[String]],
            (s \ "rows").extract[Long], (s \ "digest").extract[String])))
      })
  }

  /** Encodes the jsonl shards with the library encoders on the classpath
    * (zstd-jni, java.util.zip), skipping shards already encoded. */
  def prepare(m: Manifest): Unit = m.compress.foreach { c =>
    val dst = Paths.get(c.dst)
    if (!Files.exists(dst)) {
      val raw = Files.readAllBytes(Paths.get(c.src))
      val bytes = c.codec match {
        case "zstd" => com.github.luben.zstd.Zstd.compress(raw, 3)
        case "gzip" =>
          val bo = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bo)
          gz.write(raw)
          gz.close()
          bo.toByteArray
        case other => throw new IllegalArgumentException(s"unknown codec $other")
      }
      val tmp = dst.resolveSibling("." + dst.getFileName + ".tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
