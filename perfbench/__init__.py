"""Feature-store benchmark (see README.md)."""
