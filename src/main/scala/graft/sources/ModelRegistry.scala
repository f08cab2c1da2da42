package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path,
  RawLocalFileSystem}

import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.DataFrame

/** S12/S13 — versioned ML-model registry.
  *
  * The reference persists pickled models under timestamped version names,
  * points a `best_model` symlink at the winner, stores a metadata JSON per
  * version, and garbage-collects all but the latest five (reference:
  * src/training_service.py:31-117,276-303). The engine twin wraps MLlib's
  * native `save`/`load` (reference Spark path: src/spark/training.py:399,
  * 495-496): each `publish` writes
  *
  *   `<root>/<name>/v<seq>%06d/model/`   — MLlib writer output (parquet+json)
  *   `<root>/<name>/v<seq>%06d/answers/` — optional precomputed answer
  *                                         table (parquet, clustered on its
  *                                         first column; `api.Serving`
  *                                         reads it once per version into
  *                                         a driver index)
  *   `<root>/<name>/v<seq>%06d/metadata.json` — caller-supplied metrics
  *   `<root>/<name>/BEST`                — version id of the current best
  *
  * Versions are monotonically sequenced (not wall-clock) so tests and
  * replays are deterministic; `keepLast` prunes old versions after each
  * publish, answer table included. Everything a version holds is written
  * before `BEST` names it, so a reader that resolves BEST finds the model
  * and its answers complete. A "symlink" is a one-line pointer file — portable to object
  * stores (s3a://) where symlinks don't exist.
  *
  * All IO goes through `org.apache.hadoop.fs.FileSystem` resolved from the
  * root URI — the same abstraction MLlib's own writers use — so the registry
  * addresses `file://`, `hdfs://`, and `s3a://` roots identically (S11).
  *
  * The BEST pointer is replaced, never rewritten in place: `publish` writes
  * a temp sibling and renames it over `BEST`, so a concurrent `best()` reads
  * the old version or the new one, never an empty or missing pointer. The
  * rename is POSIX rename(2) on the local filesystem and FileContext's
  * OVERWRITE rename elsewhere (one namenode operation on HDFS; on object
  * stores a rename is a copy and gives no such guarantee).
  */
final class ModelRegistry(root: String, keepLast: Int = 5,
    conf: Configuration = new Configuration()) {

  private val rootPath = new Path(root)
  private val fs: FileSystem = rootPath.getFileSystem(conf)

  private def nameDir(name: String): Path = new Path(rootPath, name)

  // BEST is read and replaced without a .crc sidecar: a checksummed rename
  // moves the file and its .crc in two steps, and a read between them fails
  // its checksum.
  private val pointerFs: FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def readString(store: FileSystem, p: Path): String = {
    val in = store.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def writeString(store: FileSystem, p: Path, s: String): Unit = {
    val out = store.create(p, true)
    try out.write(s.getBytes("UTF-8"))
    finally out.close()
  }

  private def replacePointer(p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent, s"_${p.getName}.${UUID.randomUUID}")
    writeString(pointerFs, tmp, s)
    pointerFs match {
      case local: RawLocalFileSystem =>
        if (!local.rename(tmp, p)) throw new IOException(s"could not rename $tmp to $p")
      case other =>
        FileContext.getFileContext(other.getUri, conf)
          .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  private def versions(name: String): Seq[String] = {
    val d = nameDir(name)
    if (!fs.exists(d) || !fs.getFileStatus(d).isDirectory) Seq.empty
    else fs.listStatus(d).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v")).sorted
  }

  /** Latest version id for `name`, if any published. */
  def latest(name: String): Option[String] = versions(name).lastOption

  /** The version id the BEST pointer references, if set. */
  def best(name: String): Option[String] =
    try Some(readString(pointerFs, new Path(nameDir(name), "BEST")).trim)
    catch { case _: FileNotFoundException => None }

  /** Path to a version's MLlib model dir (pass to `XxxModel.load`). */
  def modelPath(name: String, version: String): String =
    new Path(new Path(nameDir(name), version), "model").toString

  /** Path to a version's answer table (written by `publish(answers = …)`). */
  def answersPath(name: String, version: String): String =
    new Path(new Path(nameDir(name), version), "answers").toString

  /** Whether a version's answer table is on disk: one filesystem stat. */
  def hasAnswers(name: String, version: String): Boolean =
    fs.exists(new Path(answersPath(name, version)))

  def metadata(name: String, version: String): String =
    readString(fs, new Path(new Path(nameDir(name), version), "metadata.json"))

  /** Publish a new version: MLlib save, the `answers` table when given
    * (range-clustered on its first column into `answerFiles` parquet
    * files), metadata, then advance BEST when `markBest` and prune to
    * `keepLast`. Returns the new version id.
    */
  def publish(name: String, model: MLWritable, metadataJson: String,
      markBest: Boolean = true, answers: Option[DataFrame] = None,
      answerFiles: Int = 1): String = {
    val seq = versions(name).lastOption
      .map(v => v.stripPrefix("v").toInt + 1).getOrElse(0)
    val version = f"v$seq%06d"
    val vdir = new Path(nameDir(name), version)
    fs.mkdirs(vdir)
    model.write.overwrite().save(new Path(vdir, "model").toString)
    answers.foreach(a => Layout.writeRangeSorted(a, a.columns.head, answerFiles,
      answersPath(name, version)))
    writeString(fs, new Path(vdir, "metadata.json"), metadataJson)
    if (markBest) replacePointer(new Path(nameDir(name), "BEST"), version)
    gc(name)
    version
  }

  /** Keep-last-N pruning; never prunes the BEST version. */
  private def gc(name: String): Unit = {
    val vs = versions(name)
    val keep = (vs.takeRight(keepLast) ++ best(name)).toSet
    vs.filterNot(keep).foreach { v =>
      fs.delete(new Path(nameDir(name), v), true)
    }
  }
}
