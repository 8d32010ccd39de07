package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Writes generated rows straight to a parquet file, without Spark, so
  * input generation costs no Spark jobs and stays out of every timed
  * window. Column kinds: `long`, `int`, `double`, `string`.
  */
object Parquet {
  final case class Col(name: String, kind: String)

  private def fieldType(kind: String): String = kind match {
    case "long" => "int64"
    case "int" => "int32"
    case "double" => "double"
    case "string" => "binary"
    case other => throw new IllegalArgumentException(s"column kind $other")
  }

  /** Stage and rename, so a reader never sees a partial file. */
  def write(file: String, cols: Seq[Col], rows: Iterator[Array[Any]]): Long = {
    val schema = MessageTypeParser.parseMessageType(cols.map { c =>
      val ann = if (c.kind == "string") " (UTF8)" else ""
      s"required ${fieldType(c.kind)} ${c.name}$ann;"
    }.mkString("message row {", " ", "}"))
    val target = java.nio.file.Paths.get(file)
    java.nio.file.Files.createDirectories(target.getParent)
    val stage = target.getParent.resolve(s".${target.getFileName}.stage")
    val w = ExampleParquetWriter.builder(new HPath(stage.toUri))
      .withConf(new Configuration()).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(schema)
    var n = 0L
    try rows.foreach { r =>
      val g = f.newGroup()
      cols.zip(r).foreach {
        case (c, v: Long) => g.append(c.name, v)
        case (c, v: Int) => g.append(c.name, v)
        case (c, v: Double) => g.append(c.name, v)
        case (c, v: String) => g.append(c.name, v)
        case (c, v) => throw new IllegalArgumentException(s"${c.name}: $v")
      }
      w.write(g)
      n += 1
    } finally w.close()
    // the local Hadoop filesystem leaves a checksum file beside the stage
    java.nio.file.Files.deleteIfExists(
      target.getParent.resolve(s"..${target.getFileName}.stage.crc"))
    java.nio.file.Files.move(stage, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    n
  }
}

/** Deterministic 64-bit mixing of a seed and key parts (splitmix64). */
object Mix {
  private def step(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Non-negative hash of the parts. */
  def apply(parts: Any*): Long =
    parts.foldLeft(0x2545F4914F6CDD1DL) { (acc, p) =>
      val v = p match {
        case l: Long => l
        case i: Int => i.toLong
        case s: String => s.hashCode.toLong
        case other => other.hashCode.toLong
      }
      step(acc ^ v)
    } & Long.MaxValue
  def mod(n: Long, parts: Any*): Long = apply(parts: _*) % n
}
