package graft.core

/** Character classes for fixed-length string pattern mining.
  *
  * Re-expresses the semantics of the reference's per-position character
  * sets with set algebra and named-class rendering (structa
  * chars.py:32-283): a finite set of chars, or the "any char" top
  * element. Named classes render as single letters (o/d/x/I/i), the top
  * element as ".", other sets as compressed `[a-dh-i]` ranges.
  */
sealed trait CharClass {
  def union(other: CharClass): CharClass = (this, other) match {
    case (AnyChar, _) | (_, AnyChar)  => AnyChar
    case (Chars(a), Chars(b))         => Chars(a | b)
  }

  def intersect(other: CharClass): CharClass = (this, other) match {
    case (AnyChar, o)         => o
    case (o, AnyChar)         => o
    case (Chars(a), Chars(b)) => Chars(a & b)
  }

  def subsetOf(other: CharClass): Boolean = (this, other) match {
    case (_, AnyChar)         => true
    case (AnyChar, _)         => false
    case (Chars(a), Chars(b)) => a.subsetOf(b)
  }

  def contains(c: Char): Boolean = this match {
    case AnyChar  => true
    case Chars(s) => s.contains(c)
  }

  def size: Int = this match {
    case AnyChar  => Int.MaxValue
    case Chars(s) => s.size
  }

  /** Reference rendering: chars.py:80-95. */
  def render: String = this match {
    case AnyChar => "."
    case Chars(s) if s.isEmpty   => "∅"
    case Chars(s) if s.size == 1 => s.head.toString
    case cc @ Chars(s) =>
      CharClass.named.get(cc) match {
        case Some(n) => n
        case None    => "[" + Format.formatChars(s) + "]"
      }
  }

  override def toString: String = render
}

/** Top element: any possible character (chars.py:155-276). */
case object AnyChar extends CharClass

/** A finite set of characters (chars.py:32-152). */
final case class Chars(chars: Set[Char]) extends CharClass

object CharClass {
  def apply(s: String): CharClass = Chars(s.toSet)
  def range(start: Char, stop: Char): CharClass =
    Chars((start to stop).toSet)

  /** chars.py:280-284 */
  val octDigit: CharClass = CharClass("01234567")
  val decDigit: CharClass = CharClass("0123456789")
  val hexDigit: CharClass = decDigit.union(CharClass("abcdefABCDEF"))
  val identFirst: CharClass =
    range('A', 'Z').union(range('a', 'z')).union(CharClass("_"))
  val identChar: CharClass = identFirst.union(decDigit)

  private[core] val named: Map[CharClass, String] = Map(
    octDigit -> "o", decDigit -> "d", hexDigit -> "x",
    identFirst -> "I", identChar -> "i")

  /** The class of each position of `width`-long strings, in one pass
    * over the strings.
    */
  def positions(strings: Iterable[String], width: Int): Vector[CharClass] = {
    val seen = Array.fill(width)(new scala.collection.mutable.BitSet)
    strings.foreach { s =>
      var i = 0
      while (i < width) { seen(i) += s.charAt(i); i += 1 }
    }
    seen.iterator.map(b => Chars(b.iterator.map(_.toChar).toSet): CharClass)
      .toVector
  }

  /** analyzer.py:686-718 — digit-base promotion (every multi-char
    * digit position takes the widest base seen: octal, decimal, hex),
    * then identifier generalization: a pattern that reads as an
    * identifier widens its other multi-char positions to
    * `identFirst`/`identChar`, any other pattern widens them to
    * [[AnyChar]].
    */
  def generalize(positions: Vector[CharClass]): Vector[CharClass] = {
    var base = 0
    val marked: Vector[Either[Unit, CharClass]] = positions.map { cc =>
      if (cc.size > 1 && cc.subsetOf(hexDigit)) {
        if (cc.subsetOf(octDigit)) base = math.max(base, 8)
        else if (cc.subsetOf(decDigit)) base = math.max(base, 10)
        else base = math.max(base, 16)
        Left(())
      } else Right(cc)
    }
    val digitClass = base match {
      case 8 => Some(octDigit); case 10 => Some(decDigit)
      case 16 => Some(hexDigit); case _ => None
    }
    val pattern0 = marked.map {
      case Left(_) => digitClass.get
      case Right(cc) => cc
    }
    val digits = Set(octDigit, decDigit, hexDigit)
    if (pattern0.head.subsetOf(identFirst) &&
        pattern0.tail.forall(_.subsetOf(identChar)))
      (if (pattern0.head.size == 1) pattern0.head else identFirst) +:
        pattern0.tail.map(c =>
          if (c.size == 1 || digits(c)) c else identChar)
    else pattern0.map(c =>
      if (c.size == 1 || digits(c)) c else (AnyChar: CharClass))
  }
}
