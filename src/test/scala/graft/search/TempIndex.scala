package graft.search

import graft.tables.FsUtil
import graft.text.PipelineConfig
import org.apache.spark.sql.DataFrame

/** A search index on a fresh temporary root, for the length of one block:
  * `TempIndex(docs, cfg) { (root, idx) => ... }` builds `docs(doc_id,
  * text)` through `IndexStore.buildOrOpen` and deletes the root when the
  * block ends, whether it returns or throws, so no test leaks a root. */
object TempIndex {
  def apply[T](docs: DataFrame, cfg: PipelineConfig,
      algo: Option[Searcher.Algo] = None)(body: (String, SearchIndex) => T): T = {
    val root = java.nio.file.Files.createTempDirectory("idx").toString
    try body(root, IndexStore.buildOrOpen(docs, cfg, docs.sparkSession, root, algo))
    finally FsUtil.delete(root)
  }
}
