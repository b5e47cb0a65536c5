package graft.sgml

/** DOM → markup text.
  *
  * Reference: `sgml_write.pl — xml_write/3, sgml_write/3, html_write/3`
  * [V]; canonical mode per `c14n2.pl` [V]. Used by round-trip property
  * tests (`parse(serialize(t)) == t`) and as the W1–W5 serialization
  * sink; not on the bulk extraction path.
  */
object Serializer {

  /** Serialize content in XML syntax. `canonical = true` sorts attributes
    * by name and never uses self-closing tags (c14n-style determinism). */
  def xml(content: Seq[Node], canonical: Boolean = false): String =
    write(content, Dialect.Xml, canonical)

  /** Serialize in HTML/SGML syntax: declared-EMPTY elements have no end
    * tag; CDATA elements (script/style) emit verbatim content. */
  def html(content: Seq[Node]): String = write(content, Dialect.Html4, canonical = false)

  /** Start tag on enter, end tag on exit; `verbatim` holds, per open
    * element, whether its text children are written unescaped. */
  private def write(content: Seq[Node], d: Dialect, canonical: Boolean): String = {
    val sb = new java.lang.StringBuilder(256)
    val verbatim = scala.collection.mutable.ArrayBuffer(false)
    Node.walk(content) {
      case Node.Text(s, raw, _) =>
        if (verbatim.last) sb.append(s)
        else if (raw) sb.append("<![CDATA[").append(s).append("]]>")
        else sb.append(Entities.escapeText(s))
        false
      case Node.Pi(s, _) =>
        sb.append("<?").append(s).append(if (d.xmlSyntax) "?>" else ">"); false
      case Node.EntityRef(name, _) =>
        sb.append('&').append(name).append(';'); false
      case Node.Media(ref, _) =>
        sb.append("<img src=\"").append(Entities.escapeAttr(Option(ref).getOrElse(""))).append("\"/>")
        false
      case Node.Elem(name, attrs, children, _) =>
        val local = Node.localOf(name)
        sb.append('<').append(local)
        val as = if (canonical) attrs.sortBy(_.name) else attrs
        as.foreach { a =>
          sb.append(' ').append(a.name).append("=\"")
            .append(Entities.escapeAttr(a.value.render)).append('"')
        }
        val kind = if (d.htmlDtd) HtmlDtd.dtd.element(local).map(_.content) else None
        if (children.nonEmpty) {
          sb.append('>')
          verbatim += kind.exists(c => c == ContentKind.Cdata || c == ContentKind.Rcdata)
          true
        } else {
          if (kind.contains(ContentKind.Empty)) sb.append('>')
          else if (d.xmlSyntax && !canonical) sb.append("/>")
          else sb.append("></").append(local).append('>')
          false
        }
    } { e =>
      verbatim.dropRightInPlace(1)
      sb.append("</").append(Node.localOf(e.name)).append('>')
    }
    sb.toString
  }
}
