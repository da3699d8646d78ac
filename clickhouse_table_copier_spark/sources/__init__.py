"""Table sources: path-backed tables with catalog-style introspection."""
