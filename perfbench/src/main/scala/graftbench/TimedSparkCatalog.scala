package graftbench

import org.apache.spark.sql.connector.catalog.{Identifier, Table}

import graft.catalog.GraftSparkCatalog

/** The shipped DSv2 catalog, registered under the benchmark's name so the
  * traced run can time each table load the analyzer makes (`catalog.dsv2_load`).
  * Delegates everything; with tracing off the span is a flag check. */
class TimedSparkCatalog extends GraftSparkCatalog {
  override def loadTable(ident: Identifier): Table =
    Trace.span("catalog.dsv2_load")(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    Trace.span("catalog.dsv2_load")(super.loadTable(ident, version))
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    Trace.span("catalog.dsv2_load")(super.loadTable(ident, timestamp))
}
