package graft.ops

/** Throwaway directories of the catalog's queries: their source files,
  * tables and stream checkpoints. */
object TempDir {

  /** A fresh `<prefix>*` directory under `java.io.tmpdir`, deleted when the
    * JVM exits: the DataFrames a query returns read it lazily, so it must
    * outlive the call. */
  def apply(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir
  }
}
