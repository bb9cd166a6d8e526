package graftbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

/** Generator records as parquet files of one binary `data` column,
  * written with parquet's own writer rather than a Spark job, so that
  * the inputs are written while the Spark session starts (the two
  * Spark jobs that wrote them cost 6–7 s of set-up a run).
  */
object RecordFiles {
  private val Schema = MessageTypeParser.parseMessageType("message spark_schema { optional binary data; }")

  /** One file per generator file, `part-NNNNN.parquet` in `dir`;
    * returns them in the generator's order.
    */
  def write(gen: Gen.Output, dir: File): IndexedSeq[File] = {
    dir.mkdirs()
    val conf = new Configuration()
    val files = gen.files.indices.map(i => new File(dir, f"part-$i%05d.parquet"))
    java.util.stream.IntStream.range(0, files.size).parallel().forEach { i =>
      val w = ExampleParquetWriter.builder(new Path(files(i).toURI)).withType(Schema).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val groups = new SimpleGroupFactory(Schema)
      try gen.files(i).records.foreach(r => w.write(groups.newGroup().append("data", Binary.fromConstantByteArray(r))))
      finally w.close()
    }
    files
  }
}
