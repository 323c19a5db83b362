package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.parquet.schema.Type
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructType}

/** Small artifacts (a frozen model, a PQ codebook, a publish
  * watermark) written and read on the driver as one parquet file with
  * parquet-hadoop's example object model: no plan and no Spark job for
  * a file of a few KB. The file is the one a one-partition Spark write
  * of the rows leaves — Spark's parquet schema and, in the footer, its
  * row metadata — so `spark.read.parquet` reads it with the schema it
  * infers for a Spark-written copy, and [[read]] reads the models Spark
  * writes left on disk. Columns are bigint, int or array<bigint>. */
object SmallParquet {

  /** A visible part file, so parquet readers of the dir see it. */
  val FileName = "part-00000.parquet"

  /** Write `rows` (values in `schema`'s order; a `Seq` for an array) as
    * `dir/part-00000.parquet`, creating `dir`. */
  def write(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Seq[Any]]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parquetSchema =
      new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema)
    val groups = new SimpleGroupFactory(parquetSchema)
    val out = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(dir, FileName), conf))
      .withConf(conf).withType(parquetSchema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withExtraMetaData(java.util.Map.of(
        ParquetReadSupport.SPARK_METADATA_KEY, schema.json))
      .build()
    try rows.foreach { row =>
      val g = groups.newGroup()
      schema.fields.zip(row).foreach {
        case (_, null) => ()
        case (f, v) => f.dataType match {
          case LongType => g.add(f.name, v.asInstanceOf[Long])
          case IntegerType => g.add(f.name, v.asInstanceOf[Int])
          case ArrayType(LongType, _) =>
            val list = g.addGroup(f.name)
            v.asInstanceOf[Seq[Long]].foreach(list.addGroup(0).append("element", _))
          case t => throw new IllegalArgumentException(s"small parquet: ${f.name}: $t")
        }
      }
      out.write(g)
    } finally out.close()
  }

  /** The rows of the visible part files directly under `dir`, by column
    * name (an array reads as a `Seq[Long]`); None when there is none. */
  def read(spark: SparkSession, dir: String): Option[Seq[Map[String, Any]]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val files = (try root.getFileSystem(conf).listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })
      .map(_.getPath).filter { p =>
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      }
    if (files.isEmpty) None
    else Some(files.flatMap { f =>
      val in = ParquetReader.builder(new GroupReadSupport, f).withConf(conf).build()
      try Iterator.continually(in.read()).takeWhile(_ != null).map { g =>
        val t = g.getType
        (0 until t.getFieldCount).map(i => t.getFieldName(i) -> value(g, i, t.getType(i))).toMap
      }.toList finally in.close()
    })
  }

  /** Field `i` of `g`: a bigint, an int, or a three-level LIST of them. */
  private def value(g: Group, i: Int, t: Type): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else if (!t.isPrimitive) {
      val list = g.getGroup(i, 0)
      val element = t.asGroupType.getType(0).asGroupType.getType(0)
      (0 until list.getFieldRepetitionCount(0)).map(j =>
        value(list.getGroup(0, j), 0, element))
    } else t.asPrimitiveType.getPrimitiveTypeName match {
      case INT64 => g.getLong(i, 0)
      case INT32 => g.getInteger(i, 0)
      case p => throw new IllegalArgumentException(s"small parquet: ${t.getName}: $p")
    }
}
