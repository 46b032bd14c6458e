package graft.operators

import java.io.OutputStream
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

/** The two in-place replacements of plain files and directories that
  * live outside a table log: progress markers and rewritten tables.
  */
private[graft] object Replace {

  /** Replace the small file `p` with what `write` writes: the bytes go to
    * a temp sibling, hidden unless the caller names it (`tmp`, for a
    * directory whose sweep knows its writers' temps: the table log's
    * `.tmp-*`), which is then renamed over `p`. A crash or a failed write
    * leaves the previous content whole and readable, never an empty or
    * truncated file; on failure the temp is deleted.
    */
  def file(conf: Configuration, p: Path)(write: OutputStream => Unit,
      tmp: Path = new Path(p.getParent, s".${p.getName}.tmp-${UUID.randomUUID()}")): Unit = {
    val fs = p.getFileSystem(conf)
    try {
      val out = fs.create(tmp, true)
      try write(out) finally out.close()
      FileContext.getFileContext(tmp.toUri, conf).rename(tmp, p, Options.Rename.OVERWRITE)
    } catch { case NonFatal(e) => fs.delete(tmp, false); throw e }
  }

  /** Replace the directory `path` with what `write` writes to the temp
    * sibling it is handed (`path__compacting`), by two renames: the
    * original moves aside to `path__precompact`, the temp moves in, the
    * original is deleted. A stale aside left by a crashed earlier swap is
    * deleted first; otherwise the move aside would land inside it. If
    * the temp cannot move in, the original is moved back before the
    * error is thrown. Between the two renames `path` does not exist: a
    * process that dies there leaves the data at one of the two siblings
    * for a manual rename, so run this from re-runnable maintenance, not
    * from a serving path. `what` names the operation in errors.
    */
  def dir(conf: Configuration, path: String, what: String)(write: String => Unit): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val tmp = new Path(path + "__compacting")
    write(tmp.toString)
    val old = new Path(path + "__precompact")
    fs.delete(old, true)
    require(fs.rename(p, old), s"$what: could not move $p aside")
    if (!fs.rename(tmp, p)) {
      val restored = fs.rename(old, p)
      throw new IllegalStateException(
        s"$what: could not activate $tmp; " +
          (if (restored) s"restored original at $p"
           else s"RESTORE FAILED — data is at $old, manual rename required"))
    }
    fs.delete(old, true)
    ()
  }
}
