package graft.sources

/** The one owner of where scratch state lives: stream stages,
  * checkpoints and ledgers, per-query work directories, and the
  * standing model, tokenizer and index ledgers all sit under one
  * root, so moving that root (say, to a per-run directory) is a
  * change to [[path]] alone. The three helpers differ only in what
  * they do to the directory before handing it out. */
object ScratchRoot {

  /** `name` under the scratch root, as an absolute path; creates and
    * deletes nothing (standing state that outlives one query). */
  def path(name: String): String =
    new java.io.File(s"target/qtmp/$name").getAbsolutePath

  /** [[path]] with whatever was there deleted: the absent directory a
    * parquet write in the default error-if-exists mode needs. */
  def fresh(name: String): String = {
    val p = path(name)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    p
  }

  /** [[fresh]], recreated as an empty directory. */
  def tmpDir(name: String): String = {
    val p = fresh(name)
    new java.io.File(p).mkdirs()
    p
  }
}
