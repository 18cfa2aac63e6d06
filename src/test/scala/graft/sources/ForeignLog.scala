package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Turns a TxLog table into a foreign-producer Delta table for the
  * read-only specs: every logged metaData action loses TxLog's
  * [[TxLog.Marker]], which is all that tells the two apart. */
object ForeignLog {

  def strip(table: String): Unit = {
    require(TxLog.owns(table), s"$table is not a TxLog table")
    DeltaBridge.versions(table).foreach { v =>
      val f = DeltaBridge.deltaVersionFile(table, v)
      val lines = Files.readAllLines(f).asScala.filter(_.nonEmpty).map { l =>
        val m = DeltaBridge.mapper.readValue(l, classOf[java.util.Map[String, AnyRef]])
        Option(m.get("metaData")).foreach(_.asInstanceOf[java.util.Map[String, AnyRef]]
          .get("configuration").asInstanceOf[java.util.Map[String, String]]
          .remove(TxLog.Marker))
        DeltaBridge.mapper.writeValueAsString(m)
      }
      Files.writeString(f, lines.map(_ + "\n").mkString)
    }
    require(!TxLog.owns(table), s"$table still carries ${TxLog.Marker}")
  }
}
