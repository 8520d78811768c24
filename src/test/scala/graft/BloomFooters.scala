package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import graft.lake.PartitionedTable

/** Footer checks for specs of the lake's Bloom columns, read straight from
  * the data files with parquet-mr. */
object BloomFooters {

  /** The live data files of `t` holding a chunk of a declared Bloom column
    * with neither a Bloom filter nor a dictionary encoding all its pages:
    * a point read gets no evidence from such a chunk. */
  def uncovered(root: String, t: String): Seq[String] = {
    val table = PartitionedTable.open(root, t)
    val declared = table.bloomColumns(t).toSet
    table.dataFileStatuses(t).map(_._2).filter { st =>
      ParquetFileReader.readFooter(new Configuration(), st, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.exists(_.getColumns.asScala.exists { cc =>
          val path = cc.getPath.toArray
          val stats = cc.getEncodingStats
          path.length == 1 && declared(path(0)) && cc.getBloomFilterOffset < 0 &&
            (stats == null || !stats.hasDictionaryPages || stats.hasNonDictionaryEncodedPages)
        })
    }.map(_.getPath.toString)
  }

  /** Per live file of `t`: the Bloom filter bytes of column `c`'s chunks. */
  def filterBytes(root: String, t: String, c: String): Seq[Int] =
    PartitionedTable.open(root, t).dataFileStatuses(t).map(_._2).flatMap { st =>
      ParquetFileReader.readFooter(new Configuration(), st, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toArray.sameElements(Array(c))).map(_.getBloomFilterLength)
    }
}
