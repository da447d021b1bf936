package graft.store

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Footer-level parquet metadata reads — the shared backbone of every
  * index's `stats` surface (SuffixIndex, SearchIndex, IVF, Rollup).
  * Row counts come from file FOOTERS: O(files) driver-side metadata, no
  * Spark job — which is what makes a per-ingest-batch `maintainIfNeeded`
  * call affordable (Spark 4 has no metadata-only rule for grouped
  * counts; a groupBy-count would scan). One definition so a fix (corrupt
  * footers, object-store paths) lands everywhere at once.
  */
object ParquetMeta {

  /** Row count of one parquet file from its footer; 0 when the file is
    * unreadable — deleted between listing and open (a concurrent
    * commit-GC/vacuum sweeping the resolved version mid-walk) or
    * half-written by a crashed task. Stats callers thus see a PARTIAL
    * snapshot under races, never a crash in the ingest loop — the same
    * contract the listing side keeps via its null-safety.
    */
  def rowCount(conf: Configuration, f: File): Long =
    try withFooter(conf, f)(_.getRecordCount)
    catch { case _: java.io.IOException | _: RuntimeException => 0L }

  /** Open one parquet file's footer, run `read` on it, close it. Errors
    * propagate: each caller picks its own policy (stats map an unreadable
    * file to 0, an exact count must fail).
    */
  def withFooter[A](conf: Configuration, f: File)(read: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
    try read(r) finally r.close()
  }

  /** All `*.parquet` files under `dir`, recursively (partition
    * subdirectories included). Underscore/dot entries are skipped at
    * EVERY level — the adoptTree rule ([[VersionedDir.adoptTree]]): a
    * live writer's `_temporary`/`_stage_*` dirs (exactly what exists
    * next to a stream-maintained summary mid-batch) and `_SUCCESS`-style
    * sidecars are in-flight or crash debris, not committed data; counting
    * them would inflate stats or trip on half-written files. Null-safe
    * against a directory vanishing mid-walk — a concurrent commit-GC or
    * vacuum can delete a resolved version while a stats call lists it;
    * the stats caller then sees a partial (or empty) listing, never an
    * NPE.
    */
  def parquetFiles(dir: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Seq.empty
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
  }

  /** Total footer row count of every parquet file under `dir`. */
  def totalRows(conf: Configuration, dir: File): Long =
    parquetFiles(dir).map(rowCount(conf, _)).sum
}
