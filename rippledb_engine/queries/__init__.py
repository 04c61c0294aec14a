"""Engine-tier queries; they register in :mod:`rippledb_engine.registry`."""
