"""Layered construct / serve benchmark of the rdf_spark KG engine."""
