package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.gen.PageGen
import graft.job.ExtractJob
import graft.sources.Warc

/** Seeded inputs. Rows come from `PageGen.genRow(seed, i)`; the engine
  * only ever sees the files written here. */
object Inputs {

  /** Rows [0, rows) as `segments` gzip WARC segments of contiguous
    * rows, written by the engine's own segment writer (one gzip member
    * per record, as Common Crawl ships them). */
  def warcSegments(spark: SparkSession, seed: Long, rows: Int, segments: Int, dir: Path): Unit = {
    import spark.implicits._
    val pages = spark.range(0, rows.toLong, 1, segments).mapPartitions(_.map(i => PageGen.genRow(seed, i).page))
    Warc.writeSegments(pages, dir.toString, compress = true)
  }

  /** Rows [0, rows) as a pages parquet of `files` files of contiguous
    * rows, returned in row order. */
  def pagesParquet(spark: SparkSession, seed: Long, rows: Int, files: Int, dir: Path): Seq[Path] = {
    ExtractJob.generatePages(spark, rows.toLong, dir.toString, seed, partitions = files)
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Embeddings table in the shape of the repository's test-data
    * `embeddings` table (vec_id BIGINT, embedding ARRAY<FLOAT>, label
    * INT): unit vectors scattered around `labels` seeded directions, so
    * near-duplicates exist inside each label. */
  def embeddings(spark: SparkSession, seed: Long, rows: Int, dir: Path,
                 dim: Int = 64, labels: Int = 24): Unit = {
    import spark.implicits._
    val rng = new java.util.Random(seed * 0x9e3779b97f4a7c15L + 7)
    val centres = Array.fill(labels, dim)(rng.nextGaussian())
    val data = (0 until rows).map { i =>
      val label = rng.nextInt(labels)
      val spread = if (rng.nextInt(4) == 0) 0.05 else 0.9
      val v = Array.tabulate(dim)(d => centres(label)(d) + spread * rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    data.toDF("vec_id", "embedding", "label").coalesce(1).write.parquet(dir.toString)
  }

  /** Row index of a generated url (`.../page/<idx>`). */
  def indexOf(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong
}
