package graft.perfbench

import java.io.File

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/**
 * The local file system with one fixed directory moved: paths under
 * `/tmp/graft_ann_oracle` (where the vector and BPE operators publish
 * their fitted models for the DuckDB oracle) resolve under the directory
 * named by the `perfbench.oracle.dir` system property instead, so a
 * benchmark run writes only inside its own work directory. Installed as
 * `fs.file.impl`; every other path resolves unchanged.
 */
class RedirectFs extends LocalFileSystem(new RedirectFs.Raw)

object RedirectFs {
  val Moved = "/tmp/graft_ann_oracle"

  class Raw extends RawLocalFileSystem {
    private val target = sys.props.get("perfbench.oracle.dir")

    override def pathToFile(path: Path): File = {
      val p = path.toUri.getPath
      target match {
        case Some(t) if p == Moved || p.startsWith(Moved + "/") =>
          new File(t + p.substring(Moved.length))
        case _ => super.pathToFile(path)
      }
    }
  }
}
