package cdcbench

/** Minimal JSON writer for the run's result and artifact. */
object Json {
  def apply(v: Any): String = {
    val b = new StringBuilder
    write(b, v)
    b.toString
  }

  private def str(b: StringBuilder, s: String): Unit = {
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
  }

  private def write(b: StringBuilder, v: Any): Unit = v match {
    case null => b ++= "null"
    case s: String => str(b, s)
    case x: Boolean => b ++= x.toString
    case d: Double => b ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => b ++= n.toString
    case n: Long => b ++= n.toString
    case m: scala.collection.Map[_, _] =>
      b += '{'
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) b += ','
        str(b, k.toString); b += ':'; write(b, x)
      }
      b += '}'
    case a: Array[_] => write(b, a.toSeq)
    case s: Iterable[_] =>
      b += '['
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) b += ','; write(b, x) }
      b += ']'
    case other => str(b, other.toString)
  }
}
