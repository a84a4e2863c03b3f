SELECT DISTINCT EventType, Source
FROM StormEvents
