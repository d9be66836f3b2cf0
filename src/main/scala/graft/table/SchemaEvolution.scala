package graft.table

import org.apache.spark.sql.types._

/** ALTER-ADD-equivalent schema evolution over Catalyst StructTypes.
  *
  * Rules reproduced from the reference's auto-evolve path
  * (`/root/reference/src/main/java/io/confluent/connect/jdbc/sink/DbStructure.java:124-231`):
  *  - fields present in the record but missing in the table are appended
  *    (ALTER TABLE ADD), matched case-insensitively (`DbStructure.java:233-278`);
  *  - ONLY optional (nullable) fields or fields with defaults may be added
  *    (`DbStructure.java:174-184`) — we have no defaults, so nullable-only;
  *  - columns are never dropped or narrowed; extra table columns are
  *    tolerated (`DbStructure.java:131-134`);
  *  - numeric widening (int → long, float → double) is allowed and
  *    handled as an up-cast of the incoming batch, never a table rewrite.
  */
object SchemaEvolution {

  /** Widening lattice: incoming type -> table type is fine if equal or if
    * (incoming, table) is a widening pair; (table, incoming) widening pair
    * means the TABLE schema widens.
    */
  private val widens: Set[(DataType, DataType)] = Set(
    (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
    (ShortType, IntegerType), (ShortType, LongType),
    (IntegerType, LongType),
    (FloatType, DoubleType))

  /** Merge an incoming batch schema into the current table schema.
    * Returns the (possibly evolved) table schema, or Left(reason) when the
    * incoming schema is inadmissible (non-nullable add, incompatible type).
    */
  def merge(table: StructType, incoming: StructType): Either[String, StructType] = {
    val byLower = table.fields.map(f => f.name.toLowerCase -> f).toMap
    var out = table.fields.toVector
    val it = incoming.fields.iterator
    while (it.hasNext) {
      val in = it.next()
      byLower.get(in.name.toLowerCase) match {
        case None =>
          if (!in.nullable)
            return Left(s"cannot ALTER-ADD non-nullable field '${in.name}' without a default")
          out = out :+ in.copy(nullable = true)
        case Some(existing) =>
          if (existing.dataType != in.dataType) {
            if (widens.contains((in.dataType, existing.dataType))) {
              () // incoming is narrower — up-cast at write time, schema unchanged
            } else if (widens.contains((existing.dataType, in.dataType))) {
              out = out.map(f =>
                if (f.name.equalsIgnoreCase(in.name)) f.copy(dataType = in.dataType) else f)
            } else {
              return Left(
                s"incompatible type change for '${in.name}': ${existing.dataType.sql} -> ${in.dataType.sql}")
            }
          }
      }
    }
    Right(StructType(out))
  }

  /** [[merge]], failing loudly on an inadmissible incoming schema: the one
    * evolution step of every writer (a batch's schema, a commit-race
    * retry's re-merge over the racer's schema, the event log's
    * after-struct).
    */
  def evolve(table: StructType, incoming: StructType): StructType =
    merge(table, incoming).fold(reason => throw new IllegalArgumentException(s"schema rejected: $reason"), identity)
}
