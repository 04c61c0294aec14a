"""Triple-pattern access (``triple_patterns``) and the session helpers for
the iterative property-path closure (``_itergc``)."""
