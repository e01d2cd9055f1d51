"""End-to-end benchmark of the 15-minute-city engine; see README.md."""
