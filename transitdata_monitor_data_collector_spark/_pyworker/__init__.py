"""Python-worker bootstrap directory (see :mod:`.sitecustomize`)."""
