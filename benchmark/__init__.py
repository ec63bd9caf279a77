"""Build / serve / curate benchmark of searchengine_spark (see NOTES.md)."""
