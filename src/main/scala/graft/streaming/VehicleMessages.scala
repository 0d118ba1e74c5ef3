package graft.streaming

/** Typed sink-boundary model mirroring the reference's protobuf shape
  * (behavior of opentraffic/csv-loader CsvLoader.java:150-156, 206-209):
  * `VehicleMessageEnvelope{sourceId, messages:[VehicleMessage{vehicleId,
  * locations:[{lat,lon,timestamp}]}]}`. Clean-room case classes — field
  * layout inferred from the reference's builder calls, not copied code.
  */
case class VehicleLocation(lat: Double, lon: Double, timestamp: Long)
case class VehicleMessage(vehicleId: Long, locations: Seq[VehicleLocation])
