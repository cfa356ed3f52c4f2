"""Multi-stage pipelines composed from the ``operators`` tier."""
