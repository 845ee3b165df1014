package graft.sqlparse

/** `INSERT INTO t [(c1, c2, …)] VALUES (v1, …)[, (…)]` — the statement
  * form of the reference's persist surface, accepted on the remote SQL
  * endpoint (transport/RemoteSession.java:92-101 ships an entity; a SQL
  * client ships literals). Literals are kept as raw strings (None for
  * NULL); the executing command casts them to the table schema.
  *
  * `parse` returns None for anything that isn't exactly this shape, so
  * the caller can fall through to the Spark parser.
  */
object InsertParser {
  final case class Insert(table: String, columns: Seq[String],
                          rows: Seq[Seq[Option[String]]])

  import Parser.{Num, Str, Sym, Tok, Word}

  def parse(sql: String): Option[Insert] = {
    val toks = try Parser.tokenize(sql) catch { case scala.util.control.NonFatal(_) => return None }
    var pos = 0
    def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def eatSym(s: String): Boolean = peek match {
      case Some(Sym(`s`)) => pos += 1; true
      case _ => false
    }
    def eatKw(kw: String): Boolean = peek match {
      case Some(Word(w)) if w.equalsIgnoreCase(kw) => pos += 1; true
      case _ => false
    }
    def ident(): Option[String] = peek match {
      case Some(Word(w)) => pos += 1; Some(w)
      case _ => None
    }
    def literal(): Option[Option[String]] = peek match {
      case Some(Num(s)) => pos += 1; Some(Some(s))
      case Some(Str(s)) => pos += 1; Some(Some(s))
      case Some(Word(w)) if w.equalsIgnoreCase("null") => pos += 1; Some(None)
      case Some(Word(w)) if w.equalsIgnoreCase("true") || w.equalsIgnoreCase("false") =>
        pos += 1; Some(Some(w.toLowerCase))
      case _ => None
    }
    def commaList[A](one: () => Option[A]): Option[Seq[A]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[A]
      one() match { case Some(a) => out += a; case None => return None }
      while (eatSym(",")) one() match {
        case Some(a) => out += a
        case None => return None
      }
      Some(out.toSeq)
    }
    def tuple(): Option[Seq[Option[String]]] =
      if (!eatSym("(")) None
      else commaList(() => literal()).filter(_ => eatSym(")"))

    if (!eatKw("INSERT") || !eatKw("INTO")) return None
    val table = ident().getOrElse(return None)
    val cols =
      if (eatSym("(")) commaList(() => ident()).filter(_ => eatSym(")"))
        .getOrElse(return None)
      else Seq.empty
    if (!eatKw("VALUES")) return None
    val rows = commaList(() => tuple()).getOrElse(return None)
    if (pos != toks.length) return None
    if (rows.exists(r => cols.nonEmpty && r.size != cols.size)) return None
    Some(Insert(table, cols, rows))
  }
}
