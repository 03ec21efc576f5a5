package graft.convbench

import graft.model.Doc
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

import java.nio.file.Path

/** Writes a docs table file with parquet-mr directly, in the layout Spark
  * reads as `Dataset[Doc]` (a three-level LIST of span structs). */
object DocsParquet {

  private val Schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary doc_id (STRING);
      |  optional group spans (LIST) {
      |    repeated group list {
      |      optional group element {
      |        optional binary kind (STRING);
      |        optional binary text (STRING);
      |        optional binary media_ref (STRING);
      |        required int32 offset;
      |      }
      |    }
      |  }
      |}""".stripMargin)

  def write(file: Path, docs: Seq[Doc]): Unit = {
    val groups = new SimpleGroupFactory(Schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withConf(new Configuration()).withType(Schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try docs.foreach { d =>
      val g = groups.newGroup().append("doc_id", d.doc_id)
      val spans = g.addGroup("spans")
      d.spans.foreach { s =>
        val e = spans.addGroup("list").addGroup("element")
        Option(s.kind).foreach(e.append("kind", _))
        Option(s.text).foreach(e.append("text", _))
        Option(s.media_ref).foreach(e.append("media_ref", _))
        e.append("offset", s.offset)
      }
      w.write(g)
    } finally w.close()
  }
}
