package graft.sql

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.DataType

import graft.core.{FlatGeom, Wkb}
import graft.kernels.{Hull, MvtCodec, Overlay}

/**
 * Scale-safe geometry aggregates (TypedImperativeAggregate): the
 * per-group state is a BOUNDED partial (a running union / current hull
 * candidate set plus a small pending batch), never the group's full
 * geometry list. Partitions aggregate map-side, partials merge on the
 * reduce side — a dissolve over millions of rows per key holds O(batch
 * + partial) per task where the old `collect_list → n-way union` held
 * the whole group. Union semantics: reference unary_union
 * (bool_ops/mod.rs:152-180), collapse via balanced pairwise union.
 */
object GeomAggBuffers {
  /** Pending geoms + running partial for the union aggregate. */
  final class UnionBuf(var partial: FlatGeom, val pending: ArrayBuffer[FlatGeom])
  /** Candidate coords (current hull vertices + new points) for hull. */
  final class HullBuf(var coords: ArrayBuffer[Double])
}

abstract class GeomTypedAgg[B] extends TypedImperativeAggregate[B] {
  override def nullable: Boolean = true
  override def dataType: DataType = GeomSchema.dataType
}

/** Dissolve: n-way union with per-partition partials. */
case class StUnionAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends GeomTypedAgg[GeomAggBuffers.UnionBuf] {
  import GeomAggBuffers.UnionBuf

  /** Collapse threshold: unite pending into the partial every N rows.
    * Batched collapse keeps the balanced-union depth while bounding
    * memory; 64 keeps per-task state tiny relative to task overhead. */
  private final val Batch = 64

  override def children: Seq[Expression] = Seq(child)
  override def createAggregationBuffer(): UnionBuf =
    new UnionBuf(null, ArrayBuffer.empty)

  private def collapse(b: UnionBuf): Unit = {
    if (b.pending.nonEmpty) {
      val all = if (b.partial == null) b.pending.toSeq else b.partial +: b.pending.toSeq
      b.partial = Overlay.treeUnion(all)
      b.pending.clear()
    }
  }

  override def update(b: UnionBuf, input: InternalRow): UnionBuf = {
    val v = child.eval(input)
    if (v != null) {
      val geom = GeomSchema.fromRow(v.asInstanceOf[InternalRow])
      if (!geom.isEmpty) {
        b.pending += geom
        if (b.pending.length >= Batch) collapse(b)
      }
    }
    b
  }

  override def merge(b: UnionBuf, o: UnionBuf): UnionBuf = {
    if (o.partial != null) b.pending += o.partial
    b.pending ++= o.pending
    if (b.pending.length >= Batch) collapse(b)
    b
  }

  override def eval(b: UnionBuf): Any = {
    collapse(b)
    if (b.partial == null) GeomSchema.toRow(FlatGeom.multiPolygon(Nil))
    else GeomSchema.toRow(b.partial)
  }

  override def serialize(b: UnionBuf): Array[Byte] = {
    collapse(b)
    val wkb = if (b.partial == null) Array.emptyByteArray else Wkb.write(b.partial)
    wkb
  }

  override def deserialize(bytes: Array[Byte]): UnionBuf =
    if (bytes.isEmpty) createAggregationBuffer()
    else new UnionBuf(Wkb.read(bytes), ArrayBuffer.empty)

  override def withNewMutableAggBufferOffset(o: Int): StUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): StUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** Incremental convex hull: hulls merge associatively, so the buffer
  * only ever holds the current hull's vertices plus a pending batch of
  * new points — memory O(hull size), not O(group size). */
case class StConvexHullAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends GeomTypedAgg[GeomAggBuffers.HullBuf] {
  import GeomAggBuffers.HullBuf

  /** Re-hull whenever the candidate set grows past this many coords. */
  private final val MaxCoords = 8192

  override def children: Seq[Expression] = Seq(child)
  override def createAggregationBuffer(): HullBuf = new HullBuf(ArrayBuffer.empty)

  private def collapse(b: HullBuf): Unit =
    if (b.coords.length > 8) b.coords = ArrayBuffer.from(Hull.quickHull(b.coords.toArray))

  override def update(b: HullBuf, input: InternalRow): HullBuf = {
    val v = child.eval(input)
    if (v != null) {
      val geom = GeomSchema.fromRow(v.asInstanceOf[InternalRow])
      b.coords ++= geom.coords
      if (b.coords.length >= MaxCoords) collapse(b)
    }
    b
  }

  override def merge(b: HullBuf, o: HullBuf): HullBuf = {
    b.coords ++= o.coords
    if (b.coords.length >= MaxCoords) collapse(b)
    b
  }

  override def eval(b: HullBuf): Any = {
    if (b.coords.isEmpty) return null
    val hull = Hull.quickHull(b.coords.toArray)
    if (hull.length < 8) GeomSchema.toRow(FlatGeom.lineString(hull))
    else GeomSchema.toRow(FlatGeom.polygon(hull))
  }

  override def serialize(b: HullBuf): Array[Byte] = {
    collapse(b)
    val buf = ByteBuffer.allocate(4 + 8 * b.coords.length)
    buf.putInt(b.coords.length)
    b.coords.foreach(buf.putDouble)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): HullBuf = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt()
    val cs = new ArrayBuffer[Double](n)
    var i = 0
    while (i < n) { cs += buf.getDouble(); i += 1 }
    new HullBuf(cs)
  }

  override def withNewMutableAggBufferOffset(o: Int): StConvexHullAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): StConvexHullAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** Mapbox-Vector-Tile layer aggregate: st_asmvt(geom, id[, attrs])
  * over one (z, x, y) group → the binary tile (kernels/MvtCodec,
  * spec 2.1). `attrs` is an optional STRUCT whose fields become typed
  * feature tags (string / int / double / bool; null fields skipped —
  * the PostGIS ST_AsMVT row contract). Feature order inside the tile
  * is ascending id, so the bytes are a pure function of the feature
  * SET (parallelism-invariant). Per-group state is the group's
  * feature list — inherent for a container format; tile feature
  * counts are bounded by tile granularity. */
case class StAsMvtAgg(geom: Expression, id: Expression,
    attrs: Option[Expression] = None,
    layer: String = "layer", extent: Int = 4096,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)]] {

  // lazy: the attrs expression resolves only during analysis; the
  // analyzed copy (withNewChildrenInternal) re-derives the fields
  private lazy val attrFields: Array[(String, DataType)] = attrs match {
    case Some(e) => e.dataType match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.map(f => (f.name, f.dataType))
      case other =>
        throw new IllegalArgumentException(s"st_asmvt attrs must be a struct, got $other")
    }
    case None => Array.empty
  }

  override def nullable: Boolean = false
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def children: Seq[Expression] = Seq(geom, id) ++ attrs.toSeq
  override def createAggregationBuffer(): ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)] =
    ArrayBuffer.empty

  private def tagsOf(input: InternalRow): MvtCodec.Tags = attrs match {
    case None => Nil
    case Some(e) =>
      val row = e.eval(input)
      if (row == null) Nil
      else {
        val r = row.asInstanceOf[InternalRow]
        import org.apache.spark.sql.types._
        attrFields.iterator.zipWithIndex.flatMap { case ((name, dt), i) =>
          if (r.isNullAt(i)) None
          else dt match {
            case StringType => Some(name -> (r.getUTF8String(i).toString: Any))
            case LongType => Some(name -> (java.lang.Long.valueOf(r.getLong(i)): Any))
            case IntegerType => Some(name -> (java.lang.Long.valueOf(r.getInt(i).toLong): Any))
            case DoubleType => Some(name -> (java.lang.Double.valueOf(r.getDouble(i)): Any))
            case BooleanType => Some(name -> (java.lang.Boolean.valueOf(r.getBoolean(i)): Any))
            case other =>
              throw new IllegalArgumentException(s"st_asmvt attr '$name': unsupported type $other")
          }
        }.toSeq
      }
  }

  override def update(b: ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)],
      input: InternalRow): ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)] = {
    val g = geom.eval(input); val i = id.eval(input)
    if (g != null && i != null) {
      val fg = GeomSchema.fromRow(g.asInstanceOf[InternalRow])
      if (!fg.isEmpty)
        b += ((i.asInstanceOf[Number].longValue, fg, tagsOf(input)))
    }
    b
  }

  override def merge(b: ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)],
      o: ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)]): ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)] = {
    b ++= o; b
  }

  override def eval(b: ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)]): Any =
    MvtCodec.encodeTileTagged(layer, extent, b.toSeq)

  override def serialize(b: ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.writeInt(b.length)
    for ((i, g, tags) <- b) {
      d.writeLong(i)
      val wkb = Wkb.write(g)
      d.writeInt(wkb.length); d.write(wkb)
      d.writeInt(tags.length)
      for ((k, v) <- tags) {
        d.writeUTF(k)
        v match {
          case s: String => d.writeByte(0); d.writeUTF(s)
          case l: java.lang.Long => d.writeByte(1); d.writeLong(l)
          case x: java.lang.Double => d.writeByte(2); d.writeDouble(x)
          case z: java.lang.Boolean => d.writeByte(3); d.writeBoolean(z)
          case other => throw new IllegalStateException(s"tag $other")
        }
      }
    }
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)] = {
    val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = d.readInt()
    val b = new ArrayBuffer[(Long, FlatGeom, MvtCodec.Tags)](n)
    var k = 0
    while (k < n) {
      val i = d.readLong()
      val len = d.readInt()
      val wkb = new Array[Byte](len)
      d.readFully(wkb)
      val nt = d.readInt()
      val tags = (0 until nt).map { _ =>
        val name = d.readUTF()
        val v: Any = d.readByte() match {
          case 0 => d.readUTF()
          case 1 => java.lang.Long.valueOf(d.readLong())
          case 2 => java.lang.Double.valueOf(d.readDouble())
          case 3 => java.lang.Boolean.valueOf(d.readBoolean())
        }
        name -> v
      }
      b += ((i, Wkb.read(wkb), tags))
      k += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): StAsMvtAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): StAsMvtAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), id = c(1), attrs = if (c.length > 2) Some(c(2)) else None)
}
