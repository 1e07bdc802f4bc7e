package graft.store

/** The one size-to-count rule of the stores and indexes: how many files
  * (or partitions) an input of a known size spreads over.
  */
object Sizing {

  /** ceil(size / unit), at least 1; None for an unknown size (negative)
    * or a count past Int range.
    */
  def units(size: BigInt, unit: Long): Option[Int] = {
    require(unit > 0L, s"Sizing.units: unit must be positive: $unit")
    if (size < 0) None
    else {
      val n = ((size + unit - 1) / unit).max(1)
      if (n.isValidInt) Some(n.toInt) else None
    }
  }
}
