"""End-to-end benchmark of the engine: see README.md."""
