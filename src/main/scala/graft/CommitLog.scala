package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The one commit primitive behind graft's published state, and the
  * per-store log built on it (the Delta Lake shape: write the data
  * first, then commit it by creating log entry N, which exactly one
  * writer can do).
  *
  * Every store commits through [[putIfAbsent]]:
  *   - [[sources.TablePointer]]: entry `<warehouse>/_graft_log/<logical>/<N>`
  *     commits generation N of a standing index;
  *   - [[sources.Snapshots]]: entry `<dir>/_snapshots/_log/<N>` names the
  *     manifest directory of snapshot version N;
  *   - [[sources.ExperimentStore]]: entry `<dir>/_log/<N>` names the
  *     registry snapshot of version N;
  *   - [[Locks]]: the lock file itself, holding the claimer's token.
  *
  * A log entry's name is its version number and its content names the
  * fully written object; a reader takes the newest entry. An object that
  * was written but never got its entry (a writer that died, or lost the
  * race) is invisible to readers, and the next commit takes the next
  * number.
  */
object CommitLog {

  /** Create `target` holding `content` if and only if it does not exist.
    * Of N concurrent callers for one path exactly one returns true, and
    * the file then holds that caller's content in full. `false` means
    * only "target exists"; any other I/O error propagates.
    *
    * `file:` paths write a hidden temp file beside the target and
    * hard-link it into place: link(2) fails atomically when the target
    * exists. Hadoop's local rename cannot serve here: it checks the
    * destination and then moves, and a move onto an existing directory
    * falls back to copying INTO it, so two writers can both "win". Every
    * other scheme stages a hidden file and renames it without overwrite,
    * which the namenode makes atomic on HDFS.
    */
  def putIfAbsent(fs: FileSystem, target: Path, content: String): Boolean = {
    // qualify before dispatching on the scheme: a relative Path's
    // toUri.getPath would resolve against the JVM cwd, not the Hadoop
    // working directory
    val q = fs.makeQualified(target)
    val tmpName = s".${q.getName}.${java.util.UUID.randomUUID()}.tmp"
    if (q.toUri.getScheme == "file") {
      val t = new java.io.File(q.toUri.getPath).toPath
      Files.createDirectories(t.getParent)
      val tmp = t.resolveSibling(tmpName)
      try {
        Files.write(tmp, content.getBytes(UTF_8))
        Files.createLink(t, tmp)
        true
      } catch { case _: FileAlreadyExistsException => false }
      finally Files.deleteIfExists(tmp)
    } else {
      val staged = new Path(q.getParent, tmpName)
      val os = fs.create(staged, false)
      try os.write(content.getBytes(UTF_8)) finally os.close()
      try {
        FileContext.getFileContext(q.toUri, fs.getConf)
          .rename(staged, q, Options.Rename.NONE)
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      finally fs.delete(staged, false)
    }
  }

  /** The committed entry numbers of `log`, ascending; empty when the log
    * does not exist. One listing. Only all-digit names are entries, so a
    * temp file beside an entry never counts.
    */
  def entries(fs: FileSystem, log: Path): Seq[Int] =
    try fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toInt).sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The content of entry `n` of `log`: the name of the object it commits. */
  def read(fs: FileSystem, log: Path, n: Int): String = {
    val in = fs.open(new Path(log, n.toString))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Commit `content` as entry `n` of `log`; false when `n` is taken. */
  def commit(fs: FileSystem, log: Path, n: Int, content: String): Boolean =
    putIfAbsent(fs, new Path(log, n.toString), content)
}
