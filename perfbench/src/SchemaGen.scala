package graftbench

import scala.util.Random

import graft.schema._

/** Seeded schemas and evolutions for the `schema_evolve` workload.
  *
  * A schema has `width` top-level columns: mostly primitives, with
  * nested structs (two levels), lists, maps and docs mixed in.
  * An evolution touches about 5% of the columns with a mix of rename,
  * widen, add, drop, move and doc changes, at the top level and inside
  * structs. The target is built here, independently of the engine's
  * own `Evolver.applyOp`, so a read-back can be checked against it. */
object SchemaGen {
  private val prims: IndexedSeq[GType] =
    IndexedSeq(GInt, GLong, GFloat, GDouble, GString, GBoolean, GDate, GTimestamp, GDecimal(12, 2), GBinary)
  private val widenable: IndexedSeq[GType] = IndexedSeq(GInt, GInt, GFloat, GLong, GDouble, GString)
  private def widen(t: GType): Option[GType] = t match {
    case GInt => Some(GLong)
    case GFloat => Some(GDouble)
    case _ => None
  }

  /** Top-level columns: 10% structs, 5% lists, 3% maps, the rest
    * primitives, in a seeded order. The shares are exact, so schemas of
    * one width cost about the same to evolve whatever the seed. */
  def schema(width: Int, rnd: Random): GSchema = {
    val ids = new IdAllocator()
    def prim(): GType = if (rnd.nextDouble() < 0.4) widenable(rnd.nextInt(widenable.size)) else prims(rnd.nextInt(prims.size))
    def field(name: String, kind: Char, depth: Int): GField = {
      val id = ids.next()
      val tpe = kind match {
        case 's' => GStruct((0 until 4).map(i =>
          field(s"${name}_f$i", if (depth == 0 && i == 0) 's' else 'p', depth + 1)))
        case 'l' => GList(ids.next(), elementRequired = false, prim())
        case 'm' => val k = ids.next(); GMap(k, GString, ids.next(), valueRequired = false, prim())
        case _ => prim()
      }
      val doc = if (rnd.nextDouble() < 0.2) Some(s"about $name") else None
      GField(id, name, required = false, tpe, doc)
    }
    val n = width - 1
    val kinds = rnd.shuffle(Seq.fill(n / 10)('s') ++ Seq.fill(n / 20)('l') ++ Seq.fill(n * 3 / 100)('m') ++
      Seq.fill(n - n / 10 - n / 20 - n * 3 / 100)('p'))
    val fields = GField(ids.next(), "id", required = true, GLong) +:
      kinds.zipWithIndex.map { case (k, i) => field(s"c${i + 1}", k, 0) }
    val s = GSchema(0, fields)
    s.copy(lastColumnId = s.highwaterId)
  }

  /** A target schema differing from `cur` in about `share` of its
    * top-level columns. Adds go last, as an appending writer's would. */
  def evolve(cur: GSchema, rnd: Random, share: Double = 0.05): GSchema = {
    var fields = cur.fields.toVector
    var nextId = cur.highwaterId
    val touched = scala.collection.mutable.Set[Int](fields.head.id) // never touch the key column
    val adds = scala.collection.mutable.ArrayBuffer.empty[GField]
    def newId(): Int = { nextId += 1; nextId }
    def pick(): Option[Int] = {
      val free = fields.indices.filterNot(i => touched(fields(i).id))
      if (free.isEmpty) None else { val i = free(rnd.nextInt(free.size)); touched += fields(i).id; Some(i) }
    }
    // apply `f` to one member of the struct at `i`, if it is a struct with at least `min` members
    def nested(i: Int, min: Int)(f: (Vector[GField], Int) => Vector[GField]): Boolean = fields(i).tpe match {
      case GStruct(fs) if fs.size >= min =>
        fields = fields.updated(i, fields(i).copy(tpe = GStruct(f(fs.toVector, rnd.nextInt(fs.size)))))
        true
      case _ => false
    }
    val n = math.max(3, math.round(cur.fields.size * share).toInt)
    // the kinds take turns, so every evolution of a width has the same mix
    val first = rnd.nextInt(6)
    for (k <- 0 until n; i <- pick()) (first + k) % 6 match {
      case 0 => // rename
        if (!nested(i, 1)((fs, j) => fs.updated(j, fs(j).copy(name = fs(j).name + "_r"))))
          fields = fields.updated(i, fields(i).copy(name = fields(i).name + "_r"))
      case 1 => // widen int -> long or float -> double, else set a doc
        val f = fields(i)
        val nestedWiden = nested(i, 1) { (fs, _) =>
          fs.map(m => widen(m.tpe).map(t => m.copy(tpe = t)).getOrElse(m))
        }
        if (!nestedWiden) fields = fields.updated(i,
          widen(f.tpe).map(t => f.copy(tpe = t)).getOrElse(f.copy(doc = Some(s"widened? ${f.name}"))))
      case 2 => // add, at the top level or into a struct
        if (!nested(i, 1)((fs, _) => fs :+ GField(newId(), s"n$nextId", required = false, GDouble)))
          adds += GField(newId(), s"n$nextId", required = false, prims(rnd.nextInt(prims.size)),
            if (rnd.nextBoolean()) Some(s"added n$nextId") else None)
      case 3 => // drop a struct member, else the column
        if (!nested(i, 2)((fs, j) => fs.patch(j, Nil, 1))) fields = fields.patch(i, Nil, 1)
      case 4 => // move a top-level column
        val f = fields(i)
        val rest = fields.patch(i, Nil, 1)
        val at = 1 + rnd.nextInt(rest.size)
        fields = (rest.take(at) :+ f) ++ rest.drop(at)
      case _ => // set or change a doc
        if (!nested(i, 1)((fs, j) => fs.updated(j, fs(j).copy(doc = Some(s"now ${fs(j).name}")))))
          fields = fields.updated(i, fields(i).copy(doc = Some(s"now ${fields(i).name}")))
    }
    val out = fields ++ adds
    GSchema(0, out, lastColumnId = math.max(nextId, GSchema(0, out).highwaterId))
  }
}
