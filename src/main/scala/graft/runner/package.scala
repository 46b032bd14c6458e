package graft

package object runner {
  /** The table-zoned [[runner.Lakehouse]] under its former name. */
  type VersionedLakehouse = Lakehouse
}
