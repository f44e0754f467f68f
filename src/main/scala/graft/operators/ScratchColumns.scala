package graft.operators

import org.apache.spark.sql.DataFrame

/** Names for an operator's scratch columns that cannot collide with the
  * caller's: an operator that adds a fixed name such as `__u` to a
  * caller's frame would overwrite (and later drop) a caller column of
  * that name, or fail a join on it as ambiguous. */
private[graft] object ScratchColumns {

  /** Column names absent from `df`'s schema, one per base: the base
    * itself, else the base with the smallest free numeric suffix.
    * Compared case-insensitively, as Spark resolves columns. */
  def fresh(df: DataFrame, bases: String*): Seq[String] = {
    val taken = scala.collection.mutable.Set(df.columns.map(_.toLowerCase): _*)
    bases.map { b =>
      val name = Iterator.from(0).map(i => if (i == 0) b else s"${b}_$i")
        .find(n => !taken(n.toLowerCase)).get
      taken += name.toLowerCase
      name
    }
  }
}
