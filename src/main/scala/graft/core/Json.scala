package graft.core

import com.fasterxml.jackson.databind.ObjectMapper

/**
 * The one JSON writer of the operations surface (reference: the REST API
 * and state files serialize through serde, rest-api/src/lib.rs:19-52).
 *
 * The control plane, schema sensor, failover reconciler, pipeline info,
 * backlog offsets and the Verify dump build their documents as Jackson
 * trees and render them here, so string escaping lives in one library and
 * an operator-supplied name can never make a document unparseable. JSON
 * that is already rendered (a query's `lastProgress`, DLQ journal entries)
 * is embedded as a `RawValue`, byte for byte. Defaults only: compact
 * output, keys in insertion order, a `Double` as `Double.toString` — a
 * locale-independent form.
 */
object Json {
  val mapper: ObjectMapper = new ObjectMapper()
}
